package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persistence for the trained ANN index artifacts — the train-once /
  * search-many lifecycle made durable.
  *
  * At production scale the IVF centroid matrix and the PQ codebook are
  * built ONCE per corpus snapshot (a training job over a sample), written
  * as tiny parquet tables next to the corpus, and every subsequent search
  * job loads them instead of re-running Lloyd iterations — re-training
  * per query would put k-means scans in every search's latency and,
  * worse, let two concurrent searches disagree about cell assignment.
  * The tables are small enough to load onto the driver (nlist × dim and
  * m × k × dim/m floats — kilobytes), which is exactly how they are
  * consumed: as broadcast literals inside the probe expressions of
  * [[Similarity.ivfTopK]] / [[Similarity.pqTopK]] / [[Similarity.ivfPqTopK]].
  *
  * Layouts (explicit, engine-portable — any parquet reader can audit an
  * index):
  *  - IVF centroids: one row per (cell:int, vec:array<float>)
  *  - PQ codebook: one row per (subspace:int, code:int, vec:array<float>)
  */
object AnnIndexStore {

  /** Train the IVF coarse quantizer and write it as a parquet table.
    * Returns the trained matrix so the caller can search immediately. */
  def buildIvf(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      nlist: Int,
      path: String,
      iters: Int = 3): Array[Array[Float]] = {
    val cents = Similarity.trainIvfCentroids(corpus, idCol, vecCol, nlist, iters)
    saveIvf(corpus.sparkSession, cents, path)
    cents
  }

  def saveIvf(spark: SparkSession, cents: Array[Array[Float]], path: String): Unit = {
    import spark.implicits._
    cents.zipWithIndex.map { case (v, i) => (i, v.toSeq) }.toSeq
      .toDF("cell", "vec")
      .repartition(1)
      .write.mode("overwrite").parquet(path)
  }

  def loadIvf(spark: SparkSession, path: String): Array[Array[Float]] =
    spark.read.parquet(path)
      .orderBy(col("cell"))
      .collect()
      .map(_.getSeq[Float](1).toArray)

  /** Train the PQ codebook and write it as a parquet table. */
  def buildPq(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      m: Int,
      k: Int,
      path: String,
      iters: Int = 3): Array[Array[Array[Float]]] = {
    val cents = Similarity.trainPq(corpus, idCol, vecCol, m, k, iters)
    savePq(corpus.sparkSession, cents, path)
    cents
  }

  def savePq(spark: SparkSession, cents: Array[Array[Array[Float]]], path: String): Unit = {
    import spark.implicits._
    (for {
      (codes, s) <- cents.zipWithIndex
      (v, c) <- codes.zipWithIndex
    } yield (s, c, v.toSeq)).toSeq
      .toDF("subspace", "code", "vec")
      .repartition(1)
      .write.mode("overwrite").parquet(path)
  }

  def loadPq(spark: SparkSession, path: String): Array[Array[Array[Float]]] =
    spark.read.parquet(path)
      .orderBy(col("subspace"), col("code"))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Float](2).toArray))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.map(_._2).toArray)
      .toArray

  /** Persist the CODED CORPUS — (neighbor_id, cell, codes) per vector,
    * directory-partitioned by cell — the third and largest index
    * artifact, and the one that changes search I/O at 100 TB: raw
    * 64-dim float vectors are 256 B/row, m=16 PQ codes are 16 B/row
    * (16×), and because the store is partitioned by the coarse cell,
    * [[Similarity.ivfPqTopKFromCodes]]'s probed-cells filter becomes
    * PARTITION PRUNING — a search touches only its nprobe cells' code
    * files, never the rest of the corpus (asserted on the scan's
    * PartitionFilters in AnnIndexStoreSpec). Encoding runs ONCE per
    * corpus snapshot, next to the centroid/codebook training.
    *
    * Layout: `path/cell=N/…`; `cell` is the partition column, so
    * probed-cells pruning prunes directories. */
  def buildCodes(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      coarseCentroids: Array[Array[Float]],
      pqCentroids: Array[Array[Array[Float]]],
      path: String): Unit = {
    // a rebuild is a NEW corpus snapshot: clear the whole store, so no
    // file coded in the OLD geometry survives
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(corpus.sparkSession.sparkContext.hadoopConfiguration)
      .delete(p, true)
    Similarity.pqEncode(
        corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("v")),
        "v", pqCentroids)
      .withColumn("cell", Similarity.nearestCell(col("v"), coarseCentroids))
      .select(col("neighbor_id"), col("cell"), col("codes"))
      .write.mode("overwrite").partitionBy("cell").parquet(path)
  }

  /** The coded corpus back as (neighbor_id, cell, codes); `cell` is a
    * partition column, so filters on it prune directories. */
  def loadCodes(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)
      .select(col("neighbor_id"), col("cell").cast("int").as("cell"), col("codes"))
}
