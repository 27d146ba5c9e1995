package perfbench

import java.time.LocalDate

import org.apache.spark.sql.Row

/** Serial, single-threaded recomputation of each panel operation for the pinned
  * assets, compared to the collected distributed result at 1e-9 relative
  * error.
  * Every check throws with the asset, column and both values on a mismatch.
  */
object PanelCheck {
  type Series = Vector[(LocalDate, Option[Double])]
  private val Ann = math.sqrt(252.0)

  private def close(got: Any, want: Option[Double], what: String): Unit = {
    val g: Option[Double] = got match {
      case null => None
      case d: Double => Some(d)
      case n: Long => Some(n.toDouble)
      case n: Int => Some(n.toDouble)
      case other => throw new IllegalStateException(s"$what: unexpected cell $other")
    }
    val ok = (g, want) match {
      case (None, None) => true
      case (Some(a), Some(b)) if a.isNaN || b.isNaN => a.isNaN && b.isNaN
      case (Some(a), Some(b)) if a.isInfinite || b.isInfinite => a == b
      case (Some(a), Some(b)) =>
        math.abs(a - b) <= 1e-9 * math.max(1.0, math.max(math.abs(a), math.abs(b)))
      case _ => false
    }
    if (!ok) throw new IllegalStateException(s"$what: distributed=$g serial=$want")
  }

  private def values(s: Series): Vector[Double] = s.flatMap(_._2)
  private def mean(xs: Seq[Double]): Double = xs.sum / xs.size
  private def sd(xs: Seq[Double]): Option[Double] =
    if (xs.size < 2) None
    else {
      val m = mean(xs)
      Some(math.sqrt(xs.map(x => (x - m) * (x - m)).sum / (xs.size - 1)))
    }
  private def div(a: Double, b: Double): Double =
    if (b == 0.0) (if (a == 0.0) Double.NaN else if (a > 0) Double.PositiveInfinity
      else Double.NegativeInfinity)
    else a / b
  private def comp(xs: Seq[Double]): Option[Double] =
    if (xs.isEmpty) None else Some(xs.foldLeft(1.0)((w, x) => w * (x + 1.0)) - 1.0)

  /** Running wealth and clipped drawdown per row, as `withDrawdown` defines
    * them: wealth carries over null returns, drawdown is null there.
    */
  private def drawdowns(s: Series): Vector[Option[Double]] = {
    var wealth: Option[Double] = None
    var peak = Double.NegativeInfinity
    s.map { case (_, r) =>
      r.foreach(x => wealth = Some(wealth.getOrElse(1.0) * (x + 1.0)))
      wealth.foreach(w => peak = math.max(peak, w))
      r.map(_ => math.min(wealth.get / peak - 1.0, 0.0))
    }
  }

  /** Result rows of each pinned asset (keyed by the `asset` column). */
  private def rowsByAsset(p: PanelData, result: Seq[Row]): Map[Long, Seq[Row]] = {
    val pinned = p.pinned.toSet
    result.filter(r => pinned(r.getAs[Long]("asset"))).groupBy(r => r.getAs[Long]("asset"))
  }

  private def one(p: PanelData, result: Seq[Row])(f: (Long, Series, Row) => Unit): Unit = {
    val rows = rowsByAsset(p, result)
    p.pinned.foreach { a =>
      val rs = rows.getOrElse(a, Nil)
      if (rs.size != 1) throw new IllegalStateException(s"asset $a: ${rs.size} result rows")
      f(a, p.series(a), rs.head)
    }
  }

  val battery: (PanelData, Seq[Row]) => Unit = (p, result) => one(p, result) { (a, s, row) =>
    val xs = values(s)
    val m = mean(xs)
    val sdv = sd(xs).get
    close(row.getAs[Any]("mean"), Some(m), s"asset $a mean")
    close(row.getAs[Any]("vol"), Some(sdv * Ann), s"asset $a vol")
    close(row.getAs[Any]("sharpe"), Some(div(m, sdv) * Ann), s"asset $a sharpe")
    close(row.getAs[Any]("win_rate"),
      Some(div(xs.count(_ > 0).toDouble, xs.count(_ != 0).toDouble)), s"asset $a win_rate")
    close(row.getAs[Any]("comp"), comp(xs), s"asset $a comp")
  }

  val drawdown: (PanelData, Seq[Row]) => Unit = (p, result) => one(p, result) { (a, s, row) =>
    val dd = drawdowns(s).flatten
    val xs = values(s)
    close(row.getAs[Any]("max_drawdown"), Some(dd.min), s"asset $a max_drawdown")
    close(row.getAs[Any]("ulcer_index"),
      Some(math.sqrt(div(dd.map(d => d * d).sum, xs.size - 1.0))), s"asset $a ulcer_index")
    close(row.getAs[Any]("recovery_factor"),
      Some(div(math.abs(xs.sum), math.abs(dd.min))), s"asset $a recovery_factor")
  }

  val streaks: (PanelData, Seq[Row]) => Unit = (p, result) => one(p, result) { (a, s, row) =>
    val signs = s.map(_._2 match {
      case None => 2
      case Some(x) => if (x > 0) 1 else if (x < 0) -1 else 0
    })
    def longest(sign: Int): Long = {
      var best, cur = 0L
      var prev = Int.MinValue
      signs.foreach { g =>
        cur = if (g == prev) cur + 1 else 1
        prev = g
        if (g == sign) best = math.max(best, cur)
      }
      best
    }
    close(row.getAs[Any]("consecutive_wins"), Some(longest(1).toDouble), s"asset $a wins")
    close(row.getAs[Any]("consecutive_losses"), Some(longest(-1).toDouble), s"asset $a losses")
  }

  val varCvar: (PanelData, Seq[Row]) => Unit = (p, result) => one(p, result) { (a, s, row) =>
    val xs = values(s)
    val v = mean(xs) + graft.core.Dist.invCdf(0.05) * sd(xs).get
    val tail = xs.filter(_ < v)
    close(row.getAs[Any]("value_at_risk"), Some(v), s"asset $a value_at_risk")
    close(row.getAs[Any]("cvar"), Some(if (tail.isEmpty) v else mean(tail)), s"asset $a cvar")
  }

  val episodes: (PanelData, Seq[Row]) => Unit = (p, result) => one(p, result) { (a, s, row) =>
    val dd = drawdowns(s)
    val eps = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
    var start: Option[LocalDate] = None
    var last: LocalDate = null
    var depth = 0.0
    s.map(_._1).zip(dd).foreach { case (d, x) =>
      if (x.exists(_ < 0)) {
        if (start.isEmpty) { start = Some(d); depth = 0.0 }
        last = d
        depth = math.min(depth, x.get)
      } else start.foreach { st =>
        eps += ((last.toEpochDay - st.toEpochDay + 1, depth)); start = None
      }
    }
    start.foreach(st => eps += ((last.toEpochDay - st.toEpochDay + 1, depth)))
    val lens = eps.map(_._1.toDouble)
    close(row.getAs[Any]("longest_dd_days"), Some(if (lens.isEmpty) 0.0 else lens.max),
      s"asset $a longest_dd_days")
    close(row.getAs[Any]("avg_dd_days"), Some(if (lens.isEmpty) 0.0 else mean(lens.toSeq)),
      s"asset $a avg_dd_days")
    close(row.getAs[Any]("avg_drawdown"),
      Some(if (eps.isEmpty) 0.0 else mean(eps.map(_._2).toSeq)), s"asset $a avg_drawdown")
  }

  val benchmarked: (PanelData, Seq[Row]) => Unit = (p, result) => one(p, result) { (a, s, row) =>
    val joined = s.flatMap { case (d, r) => p.marketByDate.get(d).map(b => (r, b)) }
    val pairs = joined.collect { case (Some(r), b) => (r, b) }
    val bs = joined.map(_._2)
    val (mr, mb) = (mean(pairs.map(_._1)), mean(pairs.map(_._2)))
    val cov = pairs.map { case (r, b) => (r - mr) * (b - mb) }.sum / (pairs.size - 1)
    val beta = div(cov, sd(bs).get * sd(bs).get)
    val corr = cov / (sd(pairs.map(_._1)).get * sd(pairs.map(_._2)).get)
    val active = pairs.map { case (r, b) => r - b }
    close(row.getAs[Any]("alpha"), Some((mr - beta * mean(bs)) * 252), s"asset $a alpha")
    close(row.getAs[Any]("beta"), Some(beta), s"asset $a beta")
    close(row.getAs[Any]("correlation"), Some(corr), s"asset $a correlation")
    close(row.getAs[Any]("r_squared"), Some(corr * corr), s"asset $a r_squared")
    close(row.getAs[Any]("treynor_ratio"), comp(pairs.map(_._1)).map(div(_, beta)),
      s"asset $a treynor_ratio")
    close(row.getAs[Any]("information_ratio"), Some(div(mean(active), sd(active).get)),
      s"asset $a information_ratio")
  }

  val monthly: (PanelData, Seq[Row]) => Unit = (p, result) => {
    val rows = rowsByAsset(p, result)
    p.pinned.foreach { a =>
      val want = p.series(a).groupBy { case (d, _) => (d.getYear, d.getMonthValue) }
        .map { case (k, rs) => k -> comp(rs.flatMap(_._2)) }
      val got = rows.getOrElse(a, Nil)
        .map(r => (r.getAs[Int]("__b0"), r.getAs[Int]("__b1")) -> r.getAs[Any]("r")).toMap
      if (got.keySet != want.keySet)
        throw new IllegalStateException(s"asset $a monthly: ${got.size} buckets, want ${want.size}")
      want.foreach { case (k, w) => close(got(k), w, s"asset $a month $k") }
    }
  }
}
