package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

import scala.jdk.CollectionConverters._

/** The one get-or-build path of the session-keyed frame memos
  * (`Analytics`' itemset census, `Similarity`'s family frames), whose
  * keys carry `System.identityHashCode` of the owning session:
  *  - entries owned by STOPPED sessions are swept on every access
  *    (ADVICE r18): they can never be served again, accumulate forever
  *    in a long-lived JVM, and a recycled identityHashCode could
  *    otherwise serve a frame bound to a dead session. No unpersist —
  *    their blocks died with the session;
  *  - a hit is served only when bound to `s` itself;
  *  - a racing duplicate build unpersists its own copy;
  *  - installing a build unpersists every frame it displaces: a
  *    same-key entry of another live session (the recycled-hash case)
  *    and every key `superseded` names (an older content generation);
  *  - a served frame re-persists itself if an external clearCache
  *    dropped its blocks.
  * NOT computeIfAbsent: builds nest on one map (cells_layout → acells
  * → corpus), and a nested computeIfAbsent on one ConcurrentHashMap
  * throws "recursive update" whenever two keys land in the same bin;
  * get/putIfAbsent tolerates nesting. */
private[graft] object SessionMemo {

  def apply[K](memo: ConcurrentHashMap[K, DataFrame], s: SparkSession, key: K)
              (superseded: K => Boolean)(build: => DataFrame): DataFrame = {
    memo.entrySet().asScala.toSeq
      .filter(_.getValue.sparkSession.sparkContext.isStopped)
      .foreach(e => memo.remove(e.getKey))
    val df = Option(memo.get(key)).filter(_.sparkSession eq s).getOrElse {
      val built = build.persist()
      Option(memo.putIfAbsent(key, built)).filter(_.sparkSession eq s) match {
        case Some(prev) => built.unpersist(); prev
        case None =>
          Option(memo.put(key, built)).filterNot(_ eq built).foreach(_.unpersist())
          memo.keySet().asScala.filter(superseded)
            .foreach(k => Option(memo.remove(k)).foreach(_.unpersist()))
          built
      }
    }
    if (df.storageLevel == StorageLevel.NONE) df.persist()
    df
  }
}
