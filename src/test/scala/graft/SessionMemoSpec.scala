package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The session-keyed frame memos' replace path: what an install
  * displaces is unpersisted, never left holding cached blocks. */
class SessionMemoSpec extends SparkSpec {

  test("installing a build unpersists the displaced frame of another live session") {
    val other = spark.newSession()
    val memo = new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
    // the recycled-hash case: the key this session computes already
    // holds a frame persisted by a different, still-live session
    val displaced = other.range(0, 30).selectExpr("id * 3 AS x").persist()
    displaced.count()
    memo.put("k", displaced)
    val built = SessionMemo(memo, spark, "k")(_ => false)(spark.range(0, 20).toDF("y"))
    assert(memo.get("k") eq built)
    assert(built.storageLevel != StorageLevel.NONE)
    assert(displaced.storageLevel == StorageLevel.NONE,
      "the displaced frame must be unpersisted, not leaked")
    // a hit for the owning session serves the installed frame
    assert(SessionMemo(memo, spark, "k")(_ => false)(sys.error("no rebuild on a hit")) eq built)
    // a superseded generation is evicted and unpersisted on install
    val next = SessionMemo(memo, spark, "k2")(_ == "k")(spark.range(0, 5).toDF("z"))
    assert(!memo.containsKey("k") && (memo.get("k2") eq next))
    assert(built.storageLevel == StorageLevel.NONE)
    next.unpersist()
  }
}
