package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.TxTable
import graft.similarity.LshAnn

/** q171's two claims: the manifest-pruned point lookup (a) actually
  * SKIPS most of the index's files from stats alone, and (b) returns
  * exactly the full-scan q157 path's rows for the same query — pruning
  * must never change an answer.
  */
class TxAnnLookupSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val d = "/root/testdata/sf0.001"

  test("isin disjunction skips range-disjoint files only") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_txany_")
    try {
      val root = s"$tmp/t"
      val df = (0 until 640).map(i => (i.toLong, i.toLong)).toDF("id", "cell")
        .repartitionByRange(8, col("cell"))
      TxTable.commit(spark, root, df, TxTable.Overwrite,
        statsCols = Seq("cell"))
      val all = TxTable.currentSnapshot(root).get.files.size
      assert(all == 8)
      // two point cells in distinct ~80-cell files → exactly 2 survive
      val two = TxPrune.files(spark, root, col("cell").isin(5L, 600L))
      assert(two.size == 2, s"expected 2 surviving files, got ${two.size}")
      // a range spanning everything keeps everything
      assert(TxPrune.files(spark, root, col("cell").between(0, 1000))
        .size == all)
      // stats on another column never prune
      assert(TxPrune.files(spark, root, col("id").isin(5L)).size == all)
    } finally graft.streaming.Replay.deleteRecursively(tmp)
  }

  test("q171 point lookup == q157 full scan for the same query, and the " +
      "manifest prunes most index files") {
    val full = LshAnn.q157AnnLsh(spark, d)
      .filter(col("qid") === 0L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSeq
    val (df, nRead, nAll) = LshAnn.txAnnLookup(spark, d)
    val pruned = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSeq
    assert(pruned == full, "pruned lookup diverged from the full-scan path")
    assert(pruned.nonEmpty)
    // one query touches ≤ NBands cells; the range-tight 64-file layout
    // must resolve them to a small fraction of the index
    assert(nRead <= LshAnn.NBands && nRead < nAll / 4,
      s"manifest skipping did not engage: read $nRead of $nAll files")
  }
}
