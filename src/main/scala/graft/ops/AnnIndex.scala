package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted IVF-PQ ANN index — the production DEPLOY step the in-plan
  * stack (Similarity.ivfAdcTopK) stops short of: train once, WRITE the
  * index as parquet tables, then reload in any later session and serve
  * queries without touching the raw corpus or retraining. No reference
  * analogue (training-pipeline extension tier); the layout is the
  * standard IVF-PQ deployment shape (Jégou et al., TPAMI 2011).
  *
  * Layout under `dir`:
  *   - `centroids/` — (sidx INT, vec ARRAY<FLOAT>): the coarse
  *     quantizer, numCells rows. Metadata-scale: reloaded to the driver
  *     (like the seed collect it replaces) for probe selection with the
  *     exact arithmetic the plan uses.
  *   - `postings/`  — (vec_id, code ARRAY<INT>, n2 BIGINT, embedding,
  *     cell INT): one row per corpus vector, PARTITIONED BY cell.
  *
  * 100 TB story: the postings table IS the corpus, re-written in the
  * cell-partitioned layout every IVF scaladoc here assumes — a query
  * prunes probes/numCells of the FILES at the directory level (cell is
  * a partition column, so the `isin` filter never reads the skipped
  * cells), scans 8-byte PQ codes for the shortlist, and touches full
  * vectors only for the k-candidate exact re-rank. Build is one
  * map-side pass over the corpus (centroids/codebook are plan
  * literals) plus the partitioned write's cell shuffle; reload is a
  * numCells-row driver collect plus lazy parquet reads.
  *
  * Determinism contract (the DuckDB-oracle requirement): centroids are
  * the numCells smallest-id vectors, the PQ codebook reuses the first
  * pqK of them (both as in ivfAdcTopK), every distance is floor-scaled
  * integer arithmetic shared by plan, driver and oracle — so a build →
  * write → reload → query round-trip is bit-identical to the in-plan
  * stack on any partitioning.
  */
object AnnIndex {

  val NumCells = 16
  val PqM = 8
  val PqK = 8

  /** A reloaded index: driver-side coarse centroids + codebook (metadata
    * scale) and the lazy cell-partitioned postings relation.
    */
  final case class Loaded(seeds: Seq[(Int, Seq[Float])],
                          codebook: Seq[Seq[Double]],
                          postings: DataFrame)

  /** Train (deterministically) and persist the index for `corpus`.
    * `mode` is the parquet save mode for the postings table — "append"
    * is the delta-ingest path ([[assignWithSeeds]] computes the rows).
    */
  def build(corpus: DataFrame, idCol: String, vecCol: String, dir: String,
            numCells: Int = NumCells, pqM: Int = PqM, pqK: Int = PqK): Unit = {
    require(pqK <= numCells, "codebook rows are reused from the seed collect: pqK <= numCells")
    val spark = corpus.sparkSession
    import spark.implicits._
    // invalidate any previous deploy FIRST: a crash mid-build must leave
    // no valid marker, so readers rebuild instead of serving a torn index
    try java.nio.file.Files.deleteIfExists(markerPath(dir)) catch { case _: Throwable => }
    val seeds = collectSeeds(corpus, idCol, vecCol, numCells)
    // centroid table: k rows — a single file, like any dimension table
    seeds.toDF("sidx", "vec")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
    // At 100 TB, CLUSTER BY cell first (repartition(N, col("cell")),
    // N >> numCells) so each writer emits contiguous single-cell files
    // instead of every input partition splintering a file into every
    // cell directory. At bench SF the extra shuffle measures as a LOSS
    // (TimeOne warm 2.81 → 3.16 s, r16 A/B — the corpus is smaller than
    // the shuffle's fixed cost), so the map-side write stays; the
    // directory layout (and therefore probe pruning) is identical.
    assignWithSeeds(corpus, idCol, vecCol, seeds, pqM, pqK)
      .write.mode("overwrite").partitionBy("cell").parquet(s"$dir/postings")
    // marker LAST: its presence (with this JVM's tag) certifies a complete
    // build — readers check it before serving, so a deleted, partially-
    // written, or foreign-rebuilt artifact is DETECTED and rebuilt rather
    // than silently aggregated (r16 verdict #1)
    java.nio.file.Files.write(markerPath(dir),
      s"$jvmTag/${java.util.UUID.randomUUID()}".getBytes("UTF-8"))
  }

  /** Prefix of every marker this JVM's [[build]] writes: a marker
    * without it (clobbered, or written by another process) is foreign. */
  private val jvmTag = java.util.UUID.randomUUID().toString

  /** True iff `dir` holds a complete build made by this JVM. */
  def builtHere(dir: String): Boolean = readMarker(dir).exists(_.startsWith(s"$jvmTag/"))

  /** Completion-marker path for a persisted index dir. The marker is the
    * hermeticity contract: written last by [[build]] with a fresh token,
    * absent or stale means the artifact cannot be trusted.
    */
  def markerPath(dir: String): java.nio.file.Path = {
    try java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    catch { case _: Throwable => }
    java.nio.file.Paths.get(dir, "_GRAFT_OK")
  }

  /** The current marker token, or None when the dir has no complete build. */
  def readMarker(dir: String): Option[String] =
    try {
      val p = java.nio.file.Paths.get(dir, "_GRAFT_OK")
      if (java.nio.file.Files.exists(p))
        Some(new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
      else None
    } catch { case _: Throwable => None }

  /** The posting rows for `corpus` under FROZEN centroids — the build's
    * map-side pass, reused verbatim by delta ingest (new vectors join an
    * existing index without retraining: assignment and codes come from
    * the persisted centroids, so old postings stay valid).
    */
  def assignWithSeeds(corpus: DataFrame, idCol: String, vecCol: String,
                      seeds: Seq[(Int, Seq[Float])], pqM: Int = PqM,
                      pqK: Int = PqK): DataFrame = {
    val codebook = seeds.take(pqK).map(_._2.map(_.toDouble).toSeq)
    corpus
      .withColumn("n2", Similarity.scaledDot(col(vecCol), col(vecCol)))
      .withColumn("cell", Similarity.ivfCells(vecCol, "n2", seeds))
      .withColumn("code", Quantize.pqCodes(col(vecCol).cast("array<double>"), codebook, pqM))
      .select(col(idCol).as("vec_id"), col("code"), col("n2"),
        col(vecCol).as("embedding"), col("cell"))
  }

  /** Reload a persisted index. The centroid collect is numCells rows;
    * postings stay a lazy (cell-partitioned) relation.
    */
  def load(spark: SparkSession, dir: String, pqK: Int = PqK): Loaded = {
    val seeds = spark.read.parquet(s"$dir/centroids").orderBy(col("sidx"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Float](1).toSeq).toSeq
    Loaded(seeds, seeds.take(pqK).map(_._2.map(_.toDouble).toSeq),
      spark.read.parquet(s"$dir/postings"))
  }

  /** Serve one query from a reloaded index: IVF probe (directory-pruned
    * cell filter) → ADC scan over the stored 8-byte codes → exact
    * cosine re-rank of the shortlist from the stored vectors/norms.
    * Bit-identical to Similarity.ivfAdcTopK at the same parameters —
    * the round-trip property q_ann_query's oracle proves.
    */
  def adcQuery(idx: Loaded, qv: Seq[Float], k: Int, shortlist: Int,
               probes: Int, pqM: Int = PqM): DataFrame = {
    val qNorm = math.sqrt(Similarity.scaledDotLocal(qv, qv).toDouble)
    val probeCells = idx.seeds.map { case (i, sv) => (Similarity.cosineLocal(qv, sv), i) }
      .sortBy { case (c, i) => (-c, i) }.take(probes).map(_._2)
    val luts = Quantize.adcLuts(qv.map(_.toDouble).toSeq, idx.codebook, pqM)
    idx.postings
      .filter(col("cell").isin(probeCells: _*))
      .withColumn("adc_dist", Quantize.adcDistance(col("code"), luts))
      .orderBy(col("adc_dist").asc, col("vec_id").asc).limit(shortlist)
      .withColumn("cosine",
        Similarity.scaledDot(col("embedding"), array(qv.map(v => lit(v.toDouble)): _*))
          .cast("double") / (sqrt(col("n2").cast("double")) * lit(qNorm)))
      .orderBy(col("cosine").desc, col("vec_id").asc).limit(k)
      .select(col("vec_id"), col("cell"), col("adc_dist"), col("cosine"))
  }

  /** PQ reconstruction distortion of a stored posting row: the ADC
    * distance from the vector to its OWN codes — Σ_m min_k d(sub_m,
    * codebook[k]_m), the quantization-error number an index publishes
    * per cell (rising distortion in a cell = retrain signal).
    */
  def distortion(vecCol: Column, codebook: Seq[Seq[Double]], pqM: Int = PqM): Column = {
    require(codebook.nonEmpty && codebook.head.length % pqM == 0, "dims must divide into m subspaces")
    val subDim = codebook.head.length / pqM
    (0 until pqM).map { mi =>
      val sub = slice(vecCol.cast("array<double>"), mi * subDim + 1, subDim)
      array_min(array(codebook.map(c =>
        Quantize.scaledSqDist(sub, c.slice(mi * subDim, (mi + 1) * subDim))): _*))
    }.reduce(_ + _)
  }

  private def collectSeeds(corpus: DataFrame, idCol: String, vecCol: String,
                           numCells: Int): Seq[(Int, Seq[Float])] =
    corpus.select(col(idCol), col(vecCol)).orderBy(col(idCol)).limit(numCells)
      .collect().zipWithIndex
      .map { case (r, i) => i -> r.getSeq[Float](1).toSeq }.toSeq
}
