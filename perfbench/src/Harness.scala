package perfbench

/** One benchmark operation. `body` is timed and must hand back the caller's
  * full result (every column consumed, never a bare `count()`); `check` runs
  * after the timer has stopped and returns None when the result is right, or
  * the reason it is wrong. */
final class Op[R](val kind: String, val body: () => R,
    val check: R => Option[String])

object Op {
  def apply[R](kind: String)(body: => R)(check: R => Option[String]): Op[R] =
    new Op(kind, () => body, check)
}

/** What happened to one attempted operation. `seconds` is the timed window
  * of a completed, correct op; failed ops carry no timing. */
final case class OpResult(index: Int, kind: String, traced: Boolean,
    seconds: Option[Double], error: Option[String]) {
  def ok: Boolean = seconds.isDefined
}

/** A workload is a fixed cycle of op kinds; op `i` is the `i % cycleLength`
  * kind with literals drawn from the seed and `i`. Runs stop only at cycle
  * boundaries so every run sees the same mix of kinds. */
trait OpSource {
  def cycleLength: Int
  def op(i: Int): Op[_]
}

/** The closed loop: one client, no think time. */
object Loop {

  /** Run at least `minCycles` whole cycles, and more until the timed
    * seconds of completed ops reach `budgetS` or `wallCapS` of wall time has
    * passed. `traced(c)` says whether cycle `c` runs under the tracer;
    * `counters` are taken around each traced op, outside its timed window. */
  def run(src: OpSource, budgetS: Double, wallCapS: Double, minCycles: Int = 1,
      traced: Int => Boolean = _ => false,
      tracer: Option[Tracer] = None,
      counters: Option[LakehouseCounters] = None): Vector[OpResult] = {
    val out = Vector.newBuilder[OpResult]
    val wall0 = System.nanoTime()
    var timed = 0.0
    var i = 0
    def wall = (System.nanoTime() - wall0) / 1e9
    while (i < minCycles * src.cycleLength || (i % src.cycleLength != 0) ||
        (timed < budgetS && wall < wallCapS)) {
      val tr = traced(i / src.cycleLength) && tracer.isDefined
      if (tr) counters.foreach(_.before())
      val r = runOne(src.op(i), i, tr, tracer.filter(_ => tr))
      if (tr) counters.foreach(_.after(r))
      r.seconds.foreach(timed += _)
      out += r
      i += 1
      // a hung program must not hold the run past its cap, even mid-cycle
      if (wall >= 2 * wallCapS) return out.result()
    }
    out.result()
  }

  def runOne[R](op: Op[R], i: Int, traced: Boolean,
      tracer: Option[Tracer]): OpResult = {
    val t0 = System.nanoTime()
    val res =
      try Right(tracer.fold(op.body())(_.op(i, op.kind)(op.body())))
      catch { case t: Throwable => Left(describe(t)) }
    val secs = (System.nanoTime() - t0) / 1e9
    val verdict = res.flatMap { r =>
      try op.check(r).toLeft(())
      catch { case t: Throwable => Left("check threw " + describe(t)) }
    }
    verdict match {
      case Right(()) => OpResult(i, op.kind, traced, Some(secs), None)
      case Left(why) => OpResult(i, op.kind, traced, None, Some(why))
    }
  }

  private def describe(t: Throwable): String = {
    var c = t
    while (c.getCause != null && c.getCause != c) c = c.getCause
    s"${c.getClass.getSimpleName}: ${String.valueOf(c.getMessage).take(300)}"
  }
}

/** Latency statistics over the completed ops of a run. */
final case class LatencyStats(samples: Int, attempted: Int, failed: Int,
    timedS: Double, p50: Double, p90: Double, beyondP90: Int) {
  def opsPerS: Double = if (timedS > 0) samples / timedS else 0.0
  def failedFrac: Double = if (attempted > 0) failed.toDouble / attempted else 0.0
}

object LatencyStats {
  /** Linear-interpolated quantile of a sorted sample. */
  def quantile(sorted: IndexedSeq[Double], q: Double): Double =
    if (sorted.isEmpty) 0.0
    else {
      val pos = q * (sorted.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, sorted.size - 1)
      sorted(lo) + (pos - lo) * (sorted(hi) - sorted(lo))
    }

  def of(rs: Seq[OpResult]): LatencyStats = {
    val lat = rs.flatMap(_.seconds).toIndexedSeq.sorted
    val p90 = quantile(lat, 0.9)
    LatencyStats(lat.size, rs.size, rs.count(!_.ok), lat.sum,
      quantile(lat, 0.5), p90, lat.count(_ > p90))
  }
}
