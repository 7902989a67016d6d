package graft

import graft.api.Graft
import org.apache.spark.storage.StorageLevel

/** The one frame memo: session-bound hits, and no install or bound
  * eviction leaves a displaced frame holding cached blocks. */
class SessionMemoSpec extends SparkSpec {

  test("two live sessions over one input each get a frame bound to themselves") {
    val other = spark.newSession()
    val mine = Graft.dedup.shingleSets(Tables.documents(spark, sfDir), "doc_id", "text")
    val theirs = Graft.dedup.shingleSets(Tables.documents(other, sfDir), "doc_id", "text")
    assert(mine.sparkSession eq spark)
    assert(theirs.sparkSession eq other)
    assert(mine ne theirs)
    // each session's hit serves its own frame, and neither install
    // displaced the other
    assert(Graft.dedup.shingleSets(Tables.documents(spark, sfDir), "doc_id", "text") eq mine)
    assert(Graft.dedup.shingleSets(Tables.documents(other, sfDir), "doc_id", "text") eq theirs)
    assert(mine.storageLevel != StorageLevel.NONE && theirs.storageLevel != StorageLevel.NONE)
  }

  test("installing a new generation of a scope unpersists the superseded one") {
    val g1 = SessionMemo(spark, "gen_scope", "g1")(spark.range(0, 31).toDF("a"))
    val kept = SessionMemo(spark, "other_scope", "g1")(spark.range(0, 33).toDF("a"))
    assert(SessionMemo(spark, "gen_scope", "g1")(sys.error("no rebuild on a hit")) eq g1)
    val g2 = SessionMemo(spark, "gen_scope", "g2")(spark.range(0, 32).toDF("a"))
    assert(g1.storageLevel == StorageLevel.NONE, "the superseded generation must be unpersisted")
    assert(g2.storageLevel != StorageLevel.NONE)
    assert(kept.storageLevel != StorageLevel.NONE, "another scope is not superseded")
    Seq(g2, kept).foreach(_.unpersist())
  }

  test("the entry bound evicts and unpersists the oldest half, family entries included") {
    SessionMemo.clear()
    // a family-memo-shaped entry: (dir, tag) scope, source-signature generation
    val family = SessionMemo(spark, (sfDir, "corpus"), "sig")(spark.range(0, 1000).toDF("v"))
    val plans = (1 to SessionMemo.Bound).map(i =>
      SessionMemo(spark, ("plan", i))(spark.range(0, 1000 + i).toDF("v")))
    // Bound + 1 entries held: the next access evicts the oldest Bound / 2
    val next = SessionMemo(spark, ("plan", "next"))(spark.range(0, 5000).toDF("v"))
    val (evicted, kept) = (family +: plans).splitAt(SessionMemo.Bound / 2)
    assert(evicted.forall(_.storageLevel == StorageLevel.NONE),
      "evicted entries must be unpersisted, not leaked")
    assert((kept :+ next).forall(_.storageLevel != StorageLevel.NONE))
    SessionMemo.clear()
    assert((kept :+ next).forall(_.storageLevel == StorageLevel.NONE))
  }
}
