package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.SparkEntry
import graft.api.{GroupedStats, SeriesFrame}
import graft.core.Exprs

/** One benchmark operation: a call into one public layer of the library.
  *
  * `layer` names the layer whose public function [[run]] calls: `queries`
  * (the registry `SparkEntry.queries`) or `api` (`GroupedStats`). Every
  * result is collected; registry results are checked against DuckDB, panel
  * results on pinned assets ([[check]]).
  */
final case class Op(
    name: String,
    tag: String,
    layer: String,
    run: Ctx => DataFrame,
    oracleSql: Option[String] = None,
    check: Option[(PanelData, Seq[Row]) => Unit] = None)

object Workloads {

  /** Registry operations of `queries_seq`, each with its domain tag. They
    * cover the metric algebra over the shared returns cache, both builders
    * and a consumer of the shared session caches (returns, token counts),
    * and a report query whose result the session caches.
    */
  val registryOps: Seq[(String, String)] = Seq(
    "q01_comp" -> "returns",
    "q28_rolling_sharpe" -> "returns",
    "q48_token_entropy" -> "text",
    "q55_tfidf" -> "text",
    "q230_report_basic" -> "reports")

  def registry(dataDir: String): Seq[Op] = registryOps.map { case (name, tag) =>
    val fn = SparkEntry.queries(name)
    Op(name, tag, "queries", c => fn(c.spark, dataDir), Some(SparkEntry.oracleSql(name)))
  }

  def panel: Seq[Op] = {
    def api(name: String, f: PanelData => DataFrame,
        check: (PanelData, Seq[Row]) => Unit): Op =
      Op(name, "returns", "api", c => f(c.panel), None, Some(check))
    Seq(
      api("panel_battery", p => GroupedStats.aggregate(p.sf, Seq(
        "mean" -> (c => avg(c)),
        "vol" -> (c => Exprs.volatility(c, 252, annualize = true)),
        "sharpe" -> (c => Exprs.sharpe(c, 0.0, 252, annualize = true)),
        "win_rate" -> (c => Exprs.winRate(c)),
        "comp" -> (c => Exprs.comp(c)))), PanelCheck.battery),
      api("panel_drawdown", p => GroupedStats.drawdownStats(p.sf), PanelCheck.drawdown),
      api("panel_streaks", p => GroupedStats.streaks(p.sf), PanelCheck.streaks),
      api("panel_var_cvar", p => GroupedStats.varCvar(p.sf), PanelCheck.varCvar),
      api("panel_dd_episodes", p => GroupedStats.drawdownEpisodes(p.sf), PanelCheck.episodes),
      api("panel_benchmarked", p => GroupedStats.benchmarked(p.sf, p.market, "d", "b"),
        PanelCheck.benchmarked),
      api("panel_monthly", p => GroupedStats.calendarReturns(p.sf,
        Seq(c => year(c), c => month(c))).df, PanelCheck.monthly))
  }

  /** Deliberately broken operations for the harness's own tests: one that
    * throws and one whose result is wrong.
    */
  def injected(which: Set[String], workload: String, dataDir: String): Seq[Op] = {
    val layer = if (workload == "panel") "api" else "queries"
    val fail = Op("inject_fail", "injected", layer,
      _ => throw new IllegalStateException("injected failure"))
    val wrong =
      if (layer == "api")
        Op("inject_wrong", "injected", layer, c => {
          val p = c.panel
          GroupedStats.drawdownStats(p.sf.copy(df = p.sf.df.withColumn("r", col("r") * 1.01)))
        }, None, Some(PanelCheck.drawdown))
      else {
        val base = SparkEntry.queries("q01_comp")
        Op("inject_wrong", "injected", layer, c => {
          val df = base(c.spark, dataDir)
          val first = df.schema.fields.find(_.dataType == DoubleType).get.name
          df.withColumn(first, col(first) + 1.0)
        }, Some(SparkEntry.oracleSql("q01_comp")))
      }
    Seq(fail, wrong).filter(o => which.contains(o.name.stripPrefix("inject_")))
  }
}

/** The panel inputs of one session: the cached long-format returns frame
  * (a user's frame, loaded once and reused by every metric), the market
  * series, and the pinned assets' series collected into the JVM for
  * checking.
  */
final class PanelData(spark: SparkSession, dataDir: String, assets: Long) {
  val pinned: Seq[Long] = Seq(7L, assets / 2, assets - 1)
  val panel: DataFrame = spark.read.parquet(s"$dataDir/panel").cache()
  val market: DataFrame = spark.read.parquet(s"$dataDir/market.parquet").cache()
  val sf: SeriesFrame = SeriesFrame(panel, Seq("asset"), "d", "r")
  def materialize(): Unit = { market.count(); panel.count() }

  /** (date, return) rows of each pinned asset, in date order. */
  lazy val series: Map[Long, Vector[(java.time.LocalDate, Option[Double])]] =
    panel.filter(col("asset").isin(pinned: _*))
      .collect().toVector
      .groupBy(_.getLong(0))
      .map { case (a, rs) =>
        a -> rs.map(r => (r.getDate(1).toLocalDate,
          if (r.isNullAt(2)) None else Some(r.getDouble(2)))).sortBy(_._1.toEpochDay)
      }

  lazy val marketByDate: Map[java.time.LocalDate, Double] =
    market.collect().map(r => r.getDate(0).toLocalDate -> r.getDouble(1)).toMap
}

/** What an operation runs against: the session, and for the panel workload
  * its inputs, loaded on first use.
  */
final class Ctx(val spark: SparkSession, dataDir: String, assets: Long) {
  lazy val panel: PanelData = new PanelData(spark, dataDir, assets)
}
