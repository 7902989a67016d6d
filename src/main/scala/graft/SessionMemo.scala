package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

import scala.jdk.CollectionConverters._

/** The one in-memory frame memo: every persisted frame a module hands
  * out for reuse (the dedup pipeline's shingle, candidate and label
  * frames, `Analytics`' itemset census, `Similarity`'s family frames)
  * is built and served here, keyed on `(session, scope, generation)`:
  *  - the SparkSession object itself is the first key part (reference
  *    equality), so a hit is always bound to the calling session. The
  *    cached frames already hold their session strongly, so keying on
  *    it keeps nothing alive that was not kept already;
  *  - `scope` names what is memoized (a canonicalized plan plus tag
  *    and params, or a tag plus dir or layout path); `generation` is
  *    the content signature it was built from, empty when the scope
  *    alone determines the content;
  *  - installing a build unpersists what it displaces: a racing
  *    duplicate build of the same key, and every entry of the same
  *    session and scope with another generation (the superseded
  *    content of a table rewritten in place);
  *  - entries of stopped contexts are swept on every access. No
  *    unpersist: their blocks died with the context;
  *  - above [[Bound]] entries the oldest half by insertion order is
  *    evicted and unpersisted — never the whole map, which would
  *    unpersist frames a concurrent consumer is mid-read on;
  *  - a served frame re-persists itself if an external clearCache
  *    dropped its blocks.
  * NOT computeIfAbsent: builds nest (candidates → shingles, cells
  * layout → cells → corpus), and a nested computeIfAbsent on one
  * ConcurrentHashMap throws "recursive update" whenever two keys land
  * in the same bin; get/putIfAbsent tolerates nesting. */
private[graft] object SessionMemo {

  val Bound = 64

  private final case class Key(session: SparkSession, scope: Any, generation: Any)
  private final case class Entry(df: DataFrame, seq: Long)

  private val memo = new ConcurrentHashMap[Key, Entry]()
  private val seq = new AtomicLong()

  def apply(s: SparkSession, scope: Any, generation: Any = "")
           (build: => DataFrame): DataFrame = {
    memo.keySet().asScala.toSeq.filter(_.session.sparkContext.isStopped)
      .foreach(memo.remove)
    if (memo.size > Bound)
      memo.entrySet().asScala.toSeq.sortBy(_.getValue.seq).take(Bound / 2)
        .foreach(e => Option(memo.remove(e.getKey)).foreach(_.df.unpersist()))
    val key = Key(s, scope, generation)
    val df = Option(memo.get(key)).map(_.df).getOrElse {
      val built = build.persist()
      Option(memo.putIfAbsent(key, Entry(built, seq.incrementAndGet()))) match {
        case Some(prev) => built.unpersist(); prev.df
        case None =>
          memo.keySet().asScala
            .filter(k => (k.session eq s) && k.scope == scope && k.generation != generation)
            .foreach(k => Option(memo.remove(k)).foreach(_.df.unpersist()))
          built
      }
    }
    if (df.storageLevel == StorageLevel.NONE) df.persist()
    df
  }

  /** Unpersist and drop every entry. */
  def clear(): Unit =
    memo.keySet().asScala.toSeq
      .foreach(k => Option(memo.remove(k)).foreach(_.df.unpersist()))
}
