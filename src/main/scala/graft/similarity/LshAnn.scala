package graft.similarity

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables
import graft.functions.vectors

/** LSH-bucketed approximate-nearest-neighbor — the brief's second scale
  * path next to IVF (q29/q154/q156): sign-random-projection signatures
  * bucket the corpus, a query scores ONLY vectors sharing at least one
  * band bucket, exact cosine ranks the survivors.
  *
  * The property IVF does not have: the model is CORPUS-INDEPENDENT. SRP
  * hyperplanes are hash-derived ([[graft.functions.VectorExpressions
  * .SrpSignature]]: sign of `mix64(bit·dim + j)`), so a vector's buckets
  * never depend on what else is in the corpus — which is what makes the
  * STREAMING index (q158) trivially correct: arriving vectors bucket
  * themselves once, append-only, no re-clustering, and the maintained
  * top-k converges to the batch answer for ANY split of the corpus into
  * micro-batches. (Contrast q29's centroids, which are corpus vectors:
  * its index must be fit before serving; the production pairing is an
  * offline-fit IVF for density adaptation OR hash-LSH for zero-fit
  * incremental ingest — this operator is the second posture.)
  *
  * Banding: [[NBands]] × [[BBits]]-bit buckets from the 64-bit signature.
  * Bucket width is the occupancy dial: expected candidates per query ≈
  * NBands · N / 2^BBits; production at 10⁹ rows widens toward 16 bits
  * (q33's near-dup banding) — at the test corpus' scale 8 bits keeps
  * real multi-candidate buckets so the ranking machinery is actually
  * exercised. Every piece (mix64, signature, banding, candidate rule,
  * ranking) is restated in the DuckDB oracle — splitmix64 runs in
  * HUGEINT mod-2⁶⁴ arithmetic, so this "hash-surface" operator is
  * hash-checkable end-to-end (the q23/q27 md5 lesson, xorshift form).
  *
  * Scale posture: the corpus is scanned once, narrowly (signature is a
  * codegen kernel; banding a literal unroll); the query side is tiny and
  * broadcasts onto the (band, bucket) equi-key; candidates per query are
  * bounded by band occupancy. No shuffle touches the corpus — the
  * candidate join's shuffle moves only matched candidates.
  */
object LshAnn {

  val TopK = 5
  val NBands = 8
  val BBits = 8

  /** Corpus plus a planted scaled twin of every query vector (×1.0001 —
    * cosine 1.0, identical SRP signature by positive-scale invariance;
    * q33's re-encoded-duplicate mechanism, aimed at the query set so
    * every query has a guaranteed rank-1 hit). Twin ids `-qid - 1` are
    * collision-free against genuine non-negative ids at any scale.
    */
  private[graft] def corpusWithTwins(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val twins = Tables.embeddings(s, d).filter(col("vec_id") < 10)
      .select((-col("vec_id") - 1L).as("vec_id"),
        transform(col("embedding"), x => x * lit(1.0001f)).as("embedding"))
    emb.unionByName(twins)
  }

  /** (band, bucket) rows of a vector column: nBands × bBits slices of the
    * SRP signature, exploded. The signature rides as an unsigned-style
    * long; arithmetic shiftright + mask agrees with the oracle's HUGEINT
    * `>> then % 256` because the mask keeps only the shifted-in low bits.
    */
  private def bandRows(df: DataFrame, idCol: String, vecCol: String,
      nBands: Int = NBands, bBits: Int = BBits): DataFrame = {
    require(nBands * bBits <= 64, s"$nBands bands x $bBits bits > 64-bit sig")
    val sig = vectors.srp_signature(col(vecCol), bits = 64)
    val bands = array((0 until nBands).map { b =>
      struct(lit(b).as("band"),
        shiftright(sig, b * bBits).bitwiseAND(lit((1L << bBits) - 1))
          .as("bucket"))
    }: _*)
    df.select(col(idCol), col(vecCol), explode(bands).as("bb"))
      .select(col(idCol), col(vecCol),
        col("bb.band").as("band"), col("bb.bucket").as("bucket"))
  }

  private val cosQ = round(
    vectors.cosine_similarity(col("qv"), col("embedding")), 6)

  /** LSH ANN over explicit corpus/query tables with a dialable banding —
    * the measurement surface behind [[q157AnnLsh]]: DedupKnnSpec's recall
    * floor and AnnLab's NBands/BBits → recall/candidate curve (SCALE.md)
    * run THIS on the plain corpus, so the recall numbers are
    * apples-to-apples against exact q28 (no planted twins occupying
    * top-k slots).
    */
  private[graft] def annLshOn(corpus: DataFrame, queries: DataFrame,
      nBands: Int = NBands, bBits: Int = BBits, k: Int = TopK): DataFrame = {
    val cb = bandRows(corpus, "vec_id", "embedding", nBands, bBits)
    val qb = bandRows(queries, "qid", "qv", nBands, bBits)
    val w = Window.partitionBy("qid").orderBy(desc("cos_sim"), col("vec_id"))
    cb.join(broadcast(qb), Seq("band", "bucket"))
      .filter(col("vec_id") =!= col("qid"))
      // dedupe multi-band matches; candidate rows are occupancy-bounded,
      // so carrying the two vectors through this small shuffle is cheaper
      // than a second corpus scan to re-fetch them
      .groupBy("qid", "vec_id")
      .agg(first(col("qv")).as("qv"), first(col("embedding")).as("embedding"))
      .withColumn("cos_sim", cosQ)
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select("qid", "vec_id", "cos_sim", "rn")
      .orderBy("qid", "rn")
  }

  /** Distinct (qid, vec_id) band-sharing candidates — the occupancy side
    * of the recall/candidate trade measured by AnnLab's curve.
    */
  private[graft] def candidatePairs(corpus: DataFrame, queries: DataFrame,
      nBands: Int, bBits: Int): DataFrame = {
    val cb = bandRows(corpus, "vec_id", "embedding", nBands, bBits)
      .select("vec_id", "band", "bucket")
    val qb = bandRows(queries, "qid", "qv", nBands, bBits)
      .select("qid", "band", "bucket")
    cb.join(broadcast(qb), Seq("band", "bucket"))
      .filter(col("vec_id") =!= col("qid"))
      .select("qid", "vec_id").distinct()
  }

  private[graft] def queriesOf(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))

  /** Batch LSH ANN: top-[[TopK]] per query over band-sharing candidates. */
  def q157AnnLsh(s: SparkSession, d: String): DataFrame =
    annLshOn(corpusWithTwins(s, d), queriesOf(s, d))

  /** Shared oracle prologue: splitmix64 sign table (HUGEINT mod-2⁶⁴ —
    * wrapping multiply split at 32 bits so no product exceeds HUGEINT),
    * SRP signatures as unsigned HUGEINT, band rows for the corpus (with
    * planted twins) and the query set.
    */
  private val lshSqlPrologue: String =
    s"""m1 AS (
       |  SELECT b, j, (CAST(b*64+j AS HUGEINT) + 11400714819323198485)
       |    % 18446744073709551616 AS z
       |  FROM generate_series(0,63) tb(b), generate_series(0,63) tj(j)),
       |m2 AS (SELECT b, j, xor(z, z >> 30) AS z2 FROM m1),
       |m3 AS (SELECT b, j, ((z2 % 4294967296) * 13787848793156543929
       |  + ((z2 // 4294967296) * 13787848793156543929 % 4294967296)
       |    * 4294967296) % 18446744073709551616 AS z FROM m2),
       |m4 AS (SELECT b, j, xor(z, z >> 27) AS z2 FROM m3),
       |m5 AS (SELECT b, j, ((z2 % 4294967296) * 10723151780598845931
       |  + ((z2 // 4294967296) * 10723151780598845931 % 4294967296)
       |    * 4294967296) % 18446744073709551616 AS z FROM m4),
       |signs AS (
       |  SELECT b, j, CASE WHEN xor(z, z >> 31) % 2 = 1
       |    THEN 1 ELSE -1 END AS sgn FROM m5),
       |corpus AS (
       |  SELECT vec_id, embedding FROM embeddings
       |  UNION ALL
       |  SELECT -vec_id - 1 AS vec_id,
       |    list_transform(embedding,
       |      x -> CAST(x * CAST(1.0001 AS REAL) AS REAL)) AS embedding
       |  FROM embeddings WHERE vec_id < 10),
       |sig AS (
       |  SELECT c.vec_id,
       |    SUM(CASE WHEN d > 0 THEN CAST(1 AS HUGEINT) << b ELSE 0 END) AS u
       |  FROM (
       |    SELECT c.vec_id, s.b,
       |      SUM(CAST(s.sgn AS BIGINT) * CAST(floor(
       |        CAST(c.embedding[s.j + 1] AS DOUBLE) * 1048576) AS BIGINT))
       |        AS d
       |    FROM corpus c JOIN signs s ON true GROUP BY 1, 2) c
       |  GROUP BY 1),
       |cband AS (
       |  SELECT g.vec_id, t.b AS band,
       |    CAST((g.u >> (t.b * $BBits)) % ${1L << BBits} AS BIGINT) AS bucket
       |  FROM sig g, generate_series(0, ${NBands - 1}) t(b)),
       |qband AS (
       |  SELECT cb.vec_id AS qid, cb.band, cb.bucket
       |  FROM cband cb WHERE cb.vec_id >= 0 AND cb.vec_id < 10),
       |cand AS (
       |  SELECT DISTINCT q.qid, c.vec_id
       |  FROM qband q JOIN cband c
       |    ON q.band = c.band AND q.bucket = c.bucket
       |  WHERE c.vec_id <> q.qid),
       |scored AS (
       |  SELECT n.qid, n.vec_id,
       |    ROUND(list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]),
       |                                 CAST(ce.embedding AS DOUBLE[])), 6)
       |      AS cos_sim
       |  FROM cand n
       |  JOIN embeddings qe ON qe.vec_id = n.qid
       |  JOIN corpus ce ON ce.vec_id = n.vec_id),
       |ranked AS (
       |  SELECT qid, vec_id, cos_sim,
       |    ROW_NUMBER() OVER (PARTITION BY qid
       |      ORDER BY cos_sim DESC, vec_id) AS rn
       |  FROM scored)""".stripMargin

  val q157Sql: String =
    s"""WITH $lshSqlPrologue
       |SELECT qid, vec_id, cos_sim, rn FROM ranked WHERE rn <= $TopK
       |ORDER BY qid, rn""".stripMargin

  // ------------------------------------- manifest-pruned point lookup

  /** Serving-path ANN point lookup THROUGH the transactional index
    * (q171): the banded corpus is published ONCE as a [[TxTable]]
    * range-clustered tight on the composite cell id
    * `band · 2^BBits + bucket`, with per-file footer (min, max) cell
    * ranges in the manifest; a single query's ≤ [[NBands]] cells then
    * prune the manifest by DISJUNCTION (a pushed `cell IN (...)` through
    * `format("tx")`) and the lookup reads ONLY the files whose recorded
    * cell range can hold one of them. At the spec layout (64
    * range-tight files over 2048 cells) a point query reads ≤ 8 of 64
    * files — the at-scale story: an ANN serving lookup against a 100 TB
    * index is a few band-local file reads resolved from manifest stats,
    * no scan, no shuffle (TxAnnLookupSpec pins the skipping ratio AND
    * result equality with the full-scan q157 path; the DuckDB oracle is
    * the same mix64-restated banding, filtered to the query).
    *
    * The ≤ NBands cell ids collect driver-side by construction (one row
    * per band of ONE query) — bounded by the banding geometry, not the
    * corpus.
    */
  def q171TxAnnLookup(s: SparkSession, d: String): DataFrame =
    txAnnLookup(s, d)._1

  /** q171 plus its (files read, files total) skipping evidence —
    * TxAnnLookupSpec pins the ratio.
    */
  private[graft] def txAnnLookup(s: SparkSession,
      d: String): (DataFrame, Int, Int) = {
    import graft.operators.TxTable
    val tmp = java.nio.file.Files.createTempDirectory("graft_txann_")
    val root = s"$tmp/ann_cells"
    def cellOf = (col("band").cast("long") * (1L << BBits)) + col("bucket")
    val cb = bandRows(corpusWithTwins(s, d), "vec_id", "embedding")
      .withColumn("cell", cellOf)
      // range-tight layout: ~32 cells per file; any cell assignment is
      // correct (stats are read back from the actual footers — the
      // repartitionByRange rule), tightness only improves skipping
      .repartitionByRange(64, col("cell"))
    TxTable.commit(s, root, cb, TxTable.Overwrite, statsCols = Seq("cell"))
    val qb = bandRows(queriesOf(s, d).filter(col("qid") === 0L), "qid", "qv")
      .withColumn("cell", cellOf)
    val cells = qb.select("cell").distinct().collect()
      .map(_.getLong(0)).sorted.toSeq
    val idx = s.read.format("tx").load(root)
      .filter(col("cell").isin(cells: _*))
    // the exact cell equi-join IS the re-applied predicate; from here the
    // ranking is expression-identical to annLshOn's (same rounding, same
    // total order), so the result must equal q157's qid-0 rows
    val w = Window.partitionBy("qid").orderBy(desc("cos_sim"), col("vec_id"))
    val out = idx.join(broadcast(qb.select("qid", "qv", "cell")), Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .groupBy("qid", "vec_id")
      .agg(first(col("qv")).as("qv"), first(col("embedding")).as("embedding"))
      .withColumn("cos_sim", cosQ)
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= TopK)
      .select("qid", "vec_id", "cos_sim", "rn")
      .orderBy("qid", "rn")
      .localCheckpoint(true)
    // the skipping evidence is the file set the executed scan kept
    val kept = idx.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation
          if l.relation.isInstanceOf[graft.sources.TxBatchRelation] =>
        l.relation.asInstanceOf[graft.sources.TxBatchRelation].index
    }.flatMap(_.lastPruned).getOrElse(throw new IllegalStateException(
      "q171: the lookup never planned a TxFileIndex scan"))
    val nAll = TxTable.currentSnapshot(root).get.files.size
    graft.streaming.Replay.deleteRecursively(tmp)
    (out, kept.size, nAll)
  }

  val q171Sql: String =
    s"""WITH $lshSqlPrologue
       |SELECT qid, vec_id, cos_sim, rn FROM ranked
       |WHERE rn <= $TopK AND qid = 0
       |ORDER BY qid, rn""".stripMargin

  // ------------------------------------------------------------ streaming

  private val topkSchema = StructType(Seq(
    StructField("qid", LongType), StructField("vec_id", LongType),
    StructField("cos_sim", DoubleType)))

  /** The frozen (qid, qv, band, bucket) rows [[processBatch]] consumes:
    * a `(qid, qv)` query table banded and collected once per drain.
    */
  private[graft] def queryBandRows(q: DataFrame): Seq[Row] =
    bandRows(q, "qid", "qv")
      .select(col("qid"), col("qv"), col("band"), col("bucket"))
      .collect().toSeq

  /** Fold one arriving micro-batch of vectors into the running per-query
    * top-k: band the batch (corpus-independent model — no re-fit, the
    * q158 point), candidate-join against the FROZEN query band keys,
    * score exact cosines (batch-bounded work), merge with the current
    * top-k and keep the best [[TopK]] per query. Selection over a union
    * is associative and the ordering (rounded cosine desc, vec_id) is
    * total, so the final state equals the batch answer for any split.
    *
    * State is ≤ |Q|·k rows, rewritten whole per batch as a TRANSACTIONAL
    * Overwrite commit under the (state, batchId) txn
    * ([[graft.streaming.TxState.writeVersion]], since r12 the same
    * manifest substrate as every other incremental index): batch n
    * time-travels to the snapshot strictly below n and publishes version
    * n, so an at-least-once replay recomputes from exactly the pre-batch
    * state and its commit no-ops when the first attempt landed —
    * idempotent by construction, and no localCheckpoint job to shield an
    * in-place overwrite (a production sink compare-and-swaps the same
    * versioned value in a serving store).
    */
  def processBatch(s: SparkSession, batch: DataFrame, qbRows: Seq[Row],
      stateDir: String, batchId: Long): Unit = {
    import graft.streaming.TxState
    val qb = s.createDataFrame(
      s.sparkContext.parallelize(qbRows, 1),
      StructType(Seq(StructField("qid", LongType),
        StructField("qv", ArrayType(FloatType)),
        StructField("band", IntegerType), StructField("bucket", LongType))))
    val cb = bandRows(batch, "vec_id", "embedding")
    val scored = cb.join(broadcast(qb), Seq("band", "bucket"))
      .filter(col("vec_id") =!= col("qid"))
      .groupBy("qid", "vec_id")
      .agg(first(col("qv")).as("qv"), first(col("embedding")).as("embedding"))
      .withColumn("cos_sim", cosQ)
      .select("qid", "vec_id", "cos_sim")
    val topkDir = s"$stateDir/topk"
    val prevTopk = TxState.readBefore(s, topkDir, topkSchema, batchId)
    val w = Window.partitionBy("qid").orderBy(desc("cos_sim"), col("vec_id"))
    val merged = prevTopk.unionByName(scored)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= TopK)
      .select("qid", "vec_id", "cos_sim")
    TxState.writeVersion(merged, topkDir, batchId)
  }

  /** Streaming ANN index maintenance: the corpus replayed as micro-batches
    * through [[processBatch]]; the drained top-k state must equal
    * [[q157AnnLsh]] row-for-row (same oracle; cross-path spec in
    * DedupKnnSpec).
    */
  def q158StreamAnn(s: SparkSession, d: String): DataFrame = {
    import graft.streaming.{Replay, TxState}
    Replay.run(s, Replay.Drain(
      tag = "q158",
      srcSchema = StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)))),
      writeSource = (ss, srcDir) =>
        corpusWithTwins(ss, d).repartition(8, col("vec_id"))
          .write.mode("overwrite").parquet(srcDir),
      // the query band keys are FROZEN once (10 queries × NBands rows,
      // collected with their vectors) — per-batch work reads no query
      // table
      mkFold = (ss, stateDir) => {
        val qbRows = queryBandRows(queriesOf(ss, d))
        (batch, batchId) =>
          processBatch(batch.sparkSession, batch, qbRows, stateDir, batchId)
      },
      readResult = (ss, stateDir) => {
        val w = Window.partitionBy("qid")
          .orderBy(desc("cos_sim"), col("vec_id"))
        TxState.readBefore(ss, s"$stateDir/topk", topkSchema)
          .withColumn("rn", row_number().over(w).cast("long"))
          .select("qid", "vec_id", "cos_sim", "rn")
          .orderBy("qid", "rn")
      }))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q157_ann_lsh" -> (q157AnnLsh _),
    "q158_stream_ann" -> (q158StreamAnn _),
    "q171_tx_ann_lookup" -> (q171TxAnnLookup _))

  val oracles: Map[String, String] = Map(
    "q157_ann_lsh" -> q157Sql,
    "q158_stream_ann" -> q157Sql,
    "q171_tx_ann_lookup" -> q171Sql)
}
