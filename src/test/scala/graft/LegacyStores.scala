package graft

import graft.operators.StoreSwap
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Writers of the on-disk store layouts older versions of graft left
  * behind — the fixtures of the migration that
  * [[graft.operators.StoreSwap.open]] runs once per store. Everything
  * here writes files directly, never through the commit protocol:
  *
  *  - live partition dirs `$path/<dataDir>/<partCol>=<b>/` (the legacy
  *    in-place bucket-swap layout), with the one-row sidecars that held
  *    layout constants (`meta`, `bands_meta`, `shingles_meta`);
  *  - a committed-but-unapplied `_pending_swap` (staged buckets under
  *    `.staging`, the manifest naming surviving and emptied buckets);
  *  - per-dataDir manifests `_v/<dataDir>.v<N>` over `<dataDir>.gens`
  *    generation dirs, with an optional `#batches` ledger;
  *  - protocol 1 of the store manifest: manifests without the
  *    `#meta:protocol` entry, under the `_v/_open` marker;
  *  - flat model dirs (`codebook`, `pq_codebook`, `pq_meta`) and the PQ
  *    triple's `.staging-pq_*` dirs behind a `_pending_pq` marker. */
object LegacyStores {

  /** `df` (carrying `partCol`) as the live partition dir
    * `$path/$dataDir`, sorted within files like the legacy writers. */
  def partitionDir(df: DataFrame, path: String, dataDir: String,
                   partCol: String, sortCols: String*): Unit =
    df.repartition(col(partCol))
      .sortWithinPartitions(sortCols.map(col): _*)
      .write.partitionBy(partCol).parquet(s"$path/$dataDir")

  private def meta(spark: SparkSession, path: String, buckets: Int): Unit =
    spark.range(1).select(lit(buckets).as("buckets"))
      .write.mode("overwrite").parquet(path + "/meta")

  /** The one-row sidecars a legacy text store kept its layout constants
    * in, beside `meta`: `bands_meta` (bands, rows per band, index
    * buckets) and `shingles_meta` (shingle width). */
  def textStoreSidecars(spark: SparkSession, path: String, buckets: Int,
                        bands: Int, rowsPerBand: Int, idxBuckets: Int,
                        shingleN: Int): Unit = {
    meta(spark, path, buckets)
    spark.range(1).select(lit(bands).as("bands"),
        lit(rowsPerBand).as("rows_per_band"),
        lit(idxBuckets).as("idx_buckets"))
      .write.mode("overwrite").parquet(path + "/bands_meta")
    spark.range(1).select(lit(shingleN).as("n"))
      .write.mode("overwrite").parquet(path + "/shingles_meta")
  }

  /** Turn the protocol-2 store at `path` into the protocol-1 store an
    * older graft left: every manifest loses its `#meta:protocol` entry
    * and the entries `drop` selects (e.g. `#meta:` for a store written
    * before the layout constants moved out of the sidecars, `bands_inv/`
    * for a band index older than its inventory), and the `_v/_protocol2`
    * marker gives way to protocol 1's `_v/_open`. */
  def protocol1(path: String, drop: String => Boolean = _ => false): Unit = {
    val v = new java.io.File(s"$path/_v")
    v.listFiles().filter(_.getName.startsWith("store.v")).foreach { f =>
      val kept = java.nio.file.Files.readAllLines(f.toPath)
        .toArray(Array.empty[String])
        .filterNot(l => l.startsWith("#meta:protocol|") || drop(l))
      java.nio.file.Files.writeString(f.toPath, kept.mkString("\n"))
      // the local filesystem's checksum of the old content
      new java.io.File(v, s".${f.getName}.crc").delete()
    }
    new java.io.File(v, "_protocol2").delete()
    new java.io.File(v, "._protocol2.crc").delete()
    new java.io.File(v, "_open").createNewFile()
  }

  /** A legacy signature store: `data/d_bucket=…` plus `meta`. */
  def signatureStore(sigs: DataFrame, path: String, idCol: String,
                     buckets: Int): Unit = {
    partitionDir(sigs.withColumn("d_bucket",
        pmod(col(idCol), lit(buckets.toLong)).cast("int")),
      path, "data", "d_bucket", idCol, "k")
    meta(sigs.sparkSession, path, buckets)
  }

  /** A legacy embedding store: `data/c_bucket=…` plus `meta`. */
  def standingStore(assigned: DataFrame, path: String, clusterCol: String,
                    buckets: Int): Unit = {
    partitionDir(assigned.withColumn("c_bucket",
        pmod(col(clusterCol), lit(buckets.toLong)).cast("int")),
      path, "data", "c_bucket", clusterCol)
    meta(assigned.sparkSession, path, buckets)
  }

  /** A flat (unpartitioned) model dir such as the legacy `codebook`. */
  def flatDir(df: DataFrame, path: String, dataDir: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(s"$path/$dataDir")

  /** The state a legacy writer left when it crashed after committing a
    * bucket swap and before applying it: `staged` (carrying `partCol`)
    * staged under `.staging`, `_pending_swap` naming the surviving and
    * emptied buckets of `$path/$dataDir`. */
  def pendingSwap(path: String, partCol: String, surviving: Seq[Int],
                  emptied: Seq[Int], staged: DataFrame,
                  dataDir: String = "data"): Unit = {
    staged.repartition(col(partCol))
      .write.partitionBy(partCol).parquet(path + "/.staging")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(path, "_pending_swap"),
      s"$partCol\n${surviving.mkString(",")}\n${emptied.mkString(",")}" +
        s"\n$dataDir")
  }

  /** Turn the live dir `$path/$dataDir` into the per-dataDir versioned
    * layout: generation `version` under manifest
    * `_v/<dataDir>.v<version>`, with `batches` as its `#batches`
    * ledger. */
  def perDataDirVersioned(path: String, dataDir: String, version: Int,
                          batches: Seq[Long] = Nil): Unit = {
    val live = new java.io.File(s"$path/$dataDir")
    val gen = new java.io.File(s"$path/$dataDir.gens/g$version")
    gen.getParentFile.mkdirs()
    assert(live.renameTo(gen), s"could not move $live to $gen")
    val entries = gen.listFiles().map(_.getName).filter(_.contains("="))
      .sorted.map(b => s"$b|$version") ++
      (if (batches.isEmpty) Nil else Seq(s"#batches|${batches.mkString(",")}"))
    val v = new java.io.File(s"$path/_v")
    v.mkdirs()
    java.nio.file.Files.writeString(
      new java.io.File(v, s"$dataDir.v$version").toPath,
      entries.mkString("\n"))
  }

  /** The legacy PQ sidecar of `path`, copied from the versioned triple
    * of `from` (a store built over the same data): flat `pq_codebook`
    * and `pq_meta`, `pq_codes` partitioned by `c_bucket`. With
    * `pending`, the triple is written as the `.staging-pq_*` dirs of a
    * committed-but-unapplied swap behind a `_pending_pq` marker. */
  def pqTriple(spark: SparkSession, from: String, path: String,
               pending: Boolean = false): Unit = {
    val pfx = if (pending) ".staging-" else ""
    Seq("pq_codebook", "pq_meta").foreach { d =>
      flatDir(StoreSwap.readDir(spark, from, d, "part").drop("part"),
        path, pfx + d)
    }
    partitionDir(StoreSwap.readDir(spark, from, "pq_codes", "c_bucket"),
      path, pfx + "pq_codes", "c_bucket", "cluster", "id")
    if (pending)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(path, "_pending_pq"), "pq sidecar swap\n")
  }
}
