package graft
import org.apache.spark.sql.{DataFrame, Row}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Deterministic-order result writer — the contract behind every
    * oracle row's hash compare.
    *
    * The r11 board's single red cell (`score_percentile_norm`,
    * hash-only, values bit-exact locally at two SFs) exposed that
    * `query.orderBy(...).coalesce(1).write` leaves the WRITTEN row
    * order an implementation detail: coalesce concatenates the sort's
    * output partitions, which preserves order today, but nothing
    * asserts it, and the driver hash-compares positionally. This
    * writer makes the order a checked contract for ALL queries:
    *
    *  1. collect() the result — on a globally sorted plan collect
    *     returns range-partition order, i.e. exactly the declared
    *     `orderBy` order (Verify results are ≤ ~10k rows at sf0.01;
    *     this is the correctness dump, not the bench — driver-side
    *     materialization is the POINT here, never in operators);
    *  2. re-plan the collected rows as a single LocalRelation
    *     partition and write — one file, file order = row order;
    *  3. CANARY: re-read the written parquet and require row-for-row
    *     equality with the collected rows. A Spark/parquet change
    *     that reorders or re-encodes rows now fails Verify loudly
    *     instead of surfacing as an unexplainable driver hash red.
    */
  def writeDeterministic(df: DataFrame, path: String): Unit = {
    val spark = df.sparkSession
    val rows: Array[Row] = df.collect()
    val local = spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), df.schema)
    local.coalesce(1).write.mode("overwrite").parquet(path)
    val back = spark.read.schema(df.schema).parquet(path).collect()
    require(back.length == rows.length,
      s"order canary: wrote ${rows.length} rows, read back ${back.length}")
    val firstBad = rows.indices.find(i => !rowEq(rows(i), back(i)))
    require(firstBad.isEmpty,
      s"order canary: row ${firstBad.get} round-tripped differently: " +
        s"wrote ${rows(firstBad.get)} read ${back(firstBad.get)}")
  }

  /** Value equality tolerant of the representations a parquet
    * round-trip legitimately changes: NaN == NaN (Row.equals would
    * fail it), Seq vs Array wrappers, nested rows/maps recursively. */
  private[graft] def rowEq(a: Any, b: Any): Boolean = (a, b) match {
    case (null, null) => true
    case (null, _) | (_, null) => false
    case (x: Double, y: Double) => x == y || (x.isNaN && y.isNaN)
    case (x: Float, y: Float) => x == y || (x.isNaN && y.isNaN)
    case (x: Array[Byte], y: Array[Byte]) => java.util.Arrays.equals(x, y)
    case (x: Row, y: Row) =>
      x.length == y.length && x.toSeq.zip(y.toSeq).forall(t => rowEq(t._1, t._2))
    case (x: scala.collection.Seq[_], y: scala.collection.Seq[_]) =>
      x.length == y.length && x.zip(y).forall(t => rowEq(t._1, t._2))
    case (x: scala.collection.Map[_, _], y: scala.collection.Map[_, _]) =>
      x.size == y.size && x.forall { case (k, v) =>
        y.asInstanceOf[scala.collection.Map[Any, Any]].get(k)
          .exists(rowEq(v, _))
      }
    case (x, y) => x == y
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional 3rd arg (local dev only; the driver passes 2): comma-list
    // of query names to dump, for fast single-query oracle iteration —
    // or "--sql-only" to write the FULL oracle_sql.json without running
    // any query (the dev/oracle_types.py regeneration path)
    val sqlOnly = args.drop(2).headOption.contains("--sql-only")
    val only: Option[Set[String]] =
      args.drop(2).headOption.filterNot(_ == "--sql-only").map(_.split(',').toSet)
    val spark = core.Sessions.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt, "graft-verify")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => !sqlOnly && only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try writeDeterministic(fn(spark, sfDir), s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      } finally spark.catalog.clearCache() // multi-pass ops persist intermediates
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
