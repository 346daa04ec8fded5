package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Similarity

/** Streaming residual-PQ index maintenance: per-batch assign +
  * residual-encode against FROZEN models, appended to the partitioned
  * code layout. Stream must equal the batch builder row-for-row under
  * any micro-batch split, and serving from the streamed layout must
  * equal serving from the bulk-built one. */
class ResidualIngestSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("streamed codes == batch index rows; serving is layout-agnostic") {
    implicit val sqlCtx = spark.sqlContext
    val emb = graft.core.Tables.embeddings(spark, sf)
    val v = Similarity.vectors(emb)
    val cents = Similarity.defaultCentroids(emb, 16).localCheckpoint()
    // the frozen codebook the nightly bulk persists (seeded from the
    // reference corpus)
    val cb = Similarity.residualSeedCodebookOf(emb, cents,
      numSub = 8, subDim = 8, numCodes = 16, seedFrom = 16)
      .localCheckpoint()

    val batchRows = Similarity.residualPqIndexRowsWith(emb, cents, cb)
    val expect = batchRows
      .select(col("vec_id"), col("cell"),
        concat_ws(",", col("codes")).as("ccsv"))
      .as[(Long, Long, String)].collect().toSet

    val dir = Files.createTempDirectory("res_ingest").toString
    val ckpt = Files.createTempDirectory("res_ingest_ck").toString
    val arrivals = emb
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect().toSeq.sortBy(_._1)
    val ms = MemoryStream[(Long, Seq[Float])]
    val stream = ms.toDF().toDF("vec_id", "embedding")
    val q = ResidualIngest
      .writer(stream, cents, cb, s"$dir/index", ckpt).start()
    try {
      val (a, b) = arrivals.splitAt(arrivals.length / 3)
      ms.addData(a: _*); q.processAllAvailable()
      ms.addData(b: _*); q.processAllAvailable()
    } finally q.stop()

    val streamed = spark.read.parquet(s"$dir/index")
    val got = streamed
      .select(col("vec_id"), col("cell"),
        concat_ws(",", col("codes")).as("ccsv"))
      .as[(Long, Long, String)].collect().toSet
    assert(got === expect,
      "streamed index content must equal the batch builder under splits")

    // serving from the streamed layout == serving from the batch rows
    val queries = v.filter(col("vec_id") < 4).toDF("query_id", "e")
    def serve(index: org.apache.spark.sql.DataFrame) =
      Similarity.annIvfPqResidualFromIndex(index, queries, v, cents, cb,
          nProbe = 4, m = 12, k = 3, numSub = 8, subDim = 8)
        .select("query_id", "neighbor_id", "cos", "rnk")
        .as[(Long, Long, Double, Int)].collect().toSet
    assert(serve(streamed) === serve(batchRows))
    // the idempotent sink leaves exactly one row per vector — a
    // replayed batch would otherwise have doubled them
    assert(streamed.count() === batchRows.count())
  }

  test("idempotent sink: a re-fired residual batch over a partial " +
      "write converges to the batch rows (r14 verdict #3)") {
    val emb = graft.core.Tables.embeddings(spark, sf)
    val cents = Similarity.defaultCentroids(emb, 16).localCheckpoint()
    val rows = Similarity.residualPqIndexRowsWith(emb, cents,
      Similarity.residualSeedCodebookOf(emb, cents)).localCheckpoint()
    val dir = Files.createTempDirectory("res_replay").toString
    val key = s"${IndexSink.ingestTag("res_ck")}-7"
    IndexSink.writeBatch(rows.filter(col("vec_id") % 3 === 0),
      s"$dir/index", key) // the failed partial attempt
    IndexSink.writeBatch(rows, s"$dir/index", key) // the replay
    val got = spark.read.parquet(s"$dir/index")
    assert(got.count() === rows.count(), "no duplicates, no leftovers")
    assert(got.select(col("vec_id"), col("cell"),
        concat_ws(",", col("codes")).as("ccsv"))
      .as[(Long, Long, String)].collect().toSet ===
      rows.select(col("vec_id"), col("cell"),
        concat_ws(",", col("codes")).as("ccsv"))
      .as[(Long, Long, String)].collect().toSet)
  }
}
