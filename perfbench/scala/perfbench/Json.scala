package perfbench

import org.json4s._
import org.json4s.jackson.JsonMethods

/** The plan the runner writes, and the result the harness returns. */
object Json {
  private implicit val formats: Formats = DefaultFormats

  /** Compact JSON of plain values: maps with string keys, sequences,
    * options, numbers, booleans and strings. A NaN or infinite double,
    * which JSON cannot hold, is written as null. */
  def write(v: Any): String = JsonMethods.compact(Extraction.decompose(v).transform {
    case JDouble(d) if d.isNaN || d.isInfinite => JNull
  })

  def parseFile(path: String): JValue =
    JsonMethods.parse(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), "UTF-8"))

  implicit class Field(val j: JValue) extends AnyVal {
    def str(k: String): String = (j \ k) match { case JString(s) => s; case _ => sys.error(s"plan: $k") }
    def int(k: String): Int = num(k).toInt
    def num(k: String): Double = (j \ k) match {
      case JInt(v) => v.toDouble
      case JDouble(v) => v
      case JLong(v) => v.toDouble
      case _ => sys.error(s"plan: $k")
    }
    def bool(k: String): Boolean = (j \ k) match { case JBool(b) => b; case _ => false }
    def strs(k: String): Seq[String] = (j \ k) match {
      case JArray(xs) => xs.collect { case JString(s) => s }
      case _ => Nil
    }
    def lists(k: String): Seq[Seq[String]] = (j \ k) match {
      case JArray(xs) => xs.map { case JArray(ys) => ys.collect { case JString(s) => s }; case _ => Nil }
      case _ => Nil
    }
  }
}
