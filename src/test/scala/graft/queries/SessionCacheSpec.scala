package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions.{lit, raise_error}

import graft.{SparkSpec, TestSpark}

/** The session cache holds derived frames and values per session, never the
  * raw base tables, and releases what it holds: on `clear`, and when the
  * session's context stops. The first test stops the shared session (other
  * suites may have filled it), so the later ones run on a fresh context with
  * nothing else persisted; suites that run afterwards get that fresh one.
  */
class SessionCacheSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  private def live: SparkSession = TestSpark.spark

  private def names(s: SparkSession): Set[String] = SessionCache.stats(s).map(_.name).toSet

  test("a stopped session's entries are gone") {
    val old = live
    Queries.assetReturns(old, sf)
    ExtQueries.tokenCounts(old, sf)
    assert(Set("returns", "token_counts").subsetOf(names(old)))
    old.stop()
    assert(SessionCache.stats(old).isEmpty)
    val fresh = live
    assert(!(fresh eq old) && !fresh.sparkContext.isStopped)
    assert(SessionCache.stats(fresh).isEmpty)
  }

  test("stats counts hits and the cached bytes of materialized frames") {
    val s = live
    (1 to 3).foreach(_ => ExtQueries.tokenCounts(s, sf))
    assert(SessionCache.warm(s) == 1)
    val st = SessionCache.stats(s).find(_.name == "token_counts").get
    assert(st.hits == 2 && st.sfDir == sf)
    assert(st.bytes > 0)
  }

  test("a second session gets its own entries") {
    val s2 = live.newSession()
    Queries.assetReturns(live, sf)
    Queries.assetReturns(s2, sf)
    Queries.assetReturns(s2, sf)
    assert(SessionCache.stats(live).find(_.name == "returns").get.hits == 0)
    assert(SessionCache.stats(s2).map(s => s.name -> s.hits) == Seq("returns" -> 1L))
    SessionCache.clear(s2)
    assert(SessionCache.stats(s2).isEmpty)
    assert(names(live).contains("returns"))
  }

  test("the documents plan holds no InMemoryRelation; events and embeddings are entries") {
    val d = ExtQueries.docs(live, sf)
    d.count()
    val inMem = d.queryExecution.withCachedData.collect { case r: InMemoryRelation => r }
    assert(inMem.isEmpty, d.queryExecution.withCachedData.treeString)
    ExtQueries.events(live, sf)
    ExtQueries.emb(live, sf)
    assert(names(live).intersect(Set("documents", "events", "embeddings")) ==
      Set("events", "embeddings"))
  }

  test("warm fails with the name of the entry that cannot build") {
    SessionCache.frame(live, sf, "broken")(live.range(1).select(raise_error(lit("no"))))
    try {
      val e = intercept[IllegalStateException](SessionCache.warm(live))
      assert(e.getMessage.contains("broken"))
    } finally SessionCache.clear(live)
  }

  test("clear leaves getPersistentRDDs empty") {
    val s = live
    Queries.assetReturns(s, sf)
    Queries.marketReturns(s, sf)
    ExtQueries.tokenCounts(s, sf)
    SessionCache.value(s, sf, "plain")(Array(1.0))
    assert(SessionCache.warm(s) == 3)
    assert(s.sparkContext.getPersistentRDDs.nonEmpty)
    SessionCache.clear(s)
    assert(s.sparkContext.getPersistentRDDs.isEmpty)
    assert(SessionCache.stats(s).isEmpty)
  }
}
