package graft.queries

import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.util.control.NonFatal

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.classic.ClassicConversions._

/** Derived state shared by the queries of one analysis session, keyed by
  * (session, sf directory, name): frames, persisted on first use, and plain
  * values such as a Bloom filter. Base tables stay out unless their reuse is
  * measured to pay (see [[ExtQueries.table]]).
  *
  * Entries live as long as their session: [[clear]] releases them, and when
  * the session's SparkContext stops they are dropped (the stopped context
  * has freed their blocks), so no stopped session stays reachable.
  */
object SessionCache {

  /** An entry's lookups served from the cache, and the bytes its cached
    * blocks hold (0 for a plain value or a frame not yet materialized).
    */
  final case class Stat(name: String, sfDir: String, hits: Long, bytes: Long)

  private final case class Key(spark: SparkSession, sfDir: String, name: String)
  private final class Entry(val value: AnyRef) { val hits = new AtomicLong }

  private val entries = TrieMap.empty[Key, Entry]
  private val watched = TrieMap.empty[SparkContext, Unit]

  /** The value `name` of `spark`'s session, built on first use. */
  def value[T <: AnyRef](spark: SparkSession, sfDir: String, name: String)(build: => T): T = {
    val key = Key(spark, sfDir, name)
    val entry = entries.get(key) match {
      case Some(e) => e.hits.incrementAndGet(); e
      case None =>
        watch(spark.sparkContext)
        entries.getOrElseUpdate(key, new Entry(build))
    }
    entry.value.asInstanceOf[T]
  }

  /** The frame `name` of `spark`'s session, persisted on first use. */
  def frame(spark: SparkSession, sfDir: String, name: String)(build: => DataFrame): DataFrame =
    value(spark, sfDir, name)(build.cache())

  /** Unpersists `spark`'s frames (blocking) and forgets all its entries.
    * Sessions of one context share its cache manager, so another session's
    * frame with the same plan loses its blocks too (it recomputes on use).
    */
  def clear(spark: SparkSession): Unit = {
    val mine = of(spark)
    mine.foreach { case (k, _) => entries.remove(k) }
    frames(mine).foreach(_._2.unpersist(blocking = true))
  }

  /** Materializes every frame of `spark`'s session and returns how many
    * there are; a frame that fails to build fails the call by its name.
    */
  def warm(spark: SparkSession): Int = {
    val fs = frames(of(spark))
    fs.foreach { case (name, df) =>
      try df.count()
      catch {
        case NonFatal(t) =>
          throw new IllegalStateException(s"session cache entry $name failed to build", t)
      }
    }
    fs.size
  }

  /** Name, hits and cached bytes of each entry of `spark`'s session. */
  def stats(spark: SparkSession): Seq[Stat] = {
    lazy val stored = spark.sparkContext.getRDDStorageInfo
      .map(i => i.id -> (i.memSize + i.diskSize)).toMap
    of(spark).map { case (k, e) =>
      val bytes = e.value match {
        case df: Dataset[_] =>
          spark.sharedState.cacheManager.lookupCachedData(df)
            .map(_.cachedRepresentation.cacheBuilder)
            .filter(_.isCachedColumnBuffersLoaded)
            .flatMap(b => stored.get(b.cachedColumnBuffers.id)).getOrElse(0L)
        case _ => 0L
      }
      Stat(k.name, k.sfDir, e.hits.get, bytes)
    }.sortBy(s => (s.sfDir, s.name))
  }

  private def of(spark: SparkSession): Seq[(Key, Entry)] =
    entries.toSeq.filter(_._1.spark eq spark)

  private def frames(es: Seq[(Key, Entry)]): Seq[(String, Dataset[_])] =
    es.collect { case (k, e) if e.value.isInstanceOf[Dataset[_]] =>
      k.name -> e.value.asInstanceOf[Dataset[_]]
    }

  /** Drops every entry of `sc`'s sessions when `sc` stops. */
  private def watch(sc: SparkContext): Unit =
    if (watched.putIfAbsent(sc, ()).isEmpty)
      sc.addSparkListener(new SparkListener {
        override def onApplicationEnd(end: SparkListenerApplicationEnd): Unit = {
          entries.keys.filter(_.spark.sparkContext eq sc).foreach(entries.remove)
          watched.remove(sc)
        }
      })
}
