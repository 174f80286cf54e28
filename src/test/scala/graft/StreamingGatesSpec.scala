package graft

import graft.operators.StreamingQueries
import org.apache.spark.sql.Row

/** Every streaming gate (`StreamingQueries.all`) run at sf0.001 and
  * compared with its pinned result: the row count and a SHA-256 digest
  * of the sorted rows. The pins were taken from the per-gate staging
  * code that the shared streaming fixture replaced, so a change to the
  * fixture (file names, mtimes, arrival order, coalescing, which session
  * a gate reads through) that moves any output fails here, without the
  * DuckDB oracles of `graft.Verify`. */
class StreamingGatesSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** gate → (rows, digest of the sorted rows) */
  private val pinned: Map[String, (Long, String)] = Map(
    "q114_stream_upsert" ->
      (108L, "19e9f9ca4eb16179ebc634d7afeb608434fc0f0e2702d0556a4ac1fcce75039d"),
    "q127_stream_dedup" ->
      (500L, "3e1945c9324306b9a4b813b3aa5c12d267bdcb3464998ffb4de9673040d04cc7"),
    "q141_stream_budget" ->
      (500L, "42aea735cb3006b4c608d7afd2935032db1bc880c5e63a14a0d5f8710b74cc00"),
    "q162_stream_hll" ->
      (5L, "390a8876da0c89c658ebb86a779a3e5b2af29f7d93d8e484228a5558f1ab95ce"),
    "q170_stream_interval_join" ->
      (3L, "cbaa3635a6da8e4c38bb73a840ee33a91b379e7ba7aa04ba94efd440a5b4bb33"),
    "q174_stream_sessions" ->
      (946L, "ec544fe7da18792428a801aa020a06c59b6cd53d89aec2279943fa2b4d1d6160"),
    "q180_watermark_drop" ->
      (868L, "cf62f48d570d818d68d3dd8b48c7df343a198ebe1953b7cf7b292857a061f148"),
    "q182_stream_outer_join" ->
      (188L, "4a27d6d62b05c4e97e5839c17493d4c45af7b42c4a8c1482c40bc3faec8c4f76"),
    "q184_stream_ingest_dedup" ->
      (208L, "72a42978823d711a9d7173a26213ad078c21ed342384b70bef4fa184e16ad829"),
    "q189_stream_ingest_store" ->
      (208L, "72a42978823d711a9d7173a26213ad078c21ed342384b70bef4fa184e16ad829"),
    "q204_stream_pq_ingest" ->
      (50L, "5089df8a242980b152c7622a54e07fc3097a1f9d869f78584528ee4e886aca0c"),
    "q212_stream_lsh_ingest" ->
      (157L, "2ef3677743bc0facffd72984029004b97335d2c3721f1a0b4ede70cbaa9b8df6"),
    "q215_stream_residual_ingest" ->
      (50L, "50436be08e66b97a7fc7934fe354188937f4d4dc85823ba3fbaaf5cb340ca44f"),
    "q223_stream_exactly_once" ->
      (708L, "b9d73cee7df73593a94821fa8528e073914d5c1819f4accefe302b52f693d133"),
    "q224_stream_text_exactly_once" ->
      (157L, "2ef3677743bc0facffd72984029004b97335d2c3721f1a0b4ede70cbaa9b8df6"),
    "q230_stream_unified_txn" ->
      (157L, "2ef3677743bc0facffd72984029004b97335d2c3721f1a0b4ede70cbaa9b8df6"))

  /** One line per row (fields joined by \u0001, nulls as "null"), sorted,
    * then hashed: order-free and exact for doubles (their shortest
    * round-trip decimal). */
  private def digest(rows: Array[Row]): String = {
    val lines = rows.map(_.toSeq.map(String.valueOf).mkString("\u0001")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  for (name <- StreamingQueries.all.keys.toSeq.sorted)
    test(s"$name matches its pinned rows") {
      val rows = StreamingQueries.all(name)(spark.newSession(), dir).collect()
      val got = (rows.length.toLong, digest(rows))
      assert(pinned.get(name).contains(got), s"$name: got $got")
    }
}
