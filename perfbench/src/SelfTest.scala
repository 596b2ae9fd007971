package perfbench

/** Failure accounting self-check (`python3 perfbench/run.py --selftest`):
  * one op that throws and one that returns a wrong result, both slower than
  * any correct op, must each count as failed and must never enter the
  * latency samples. A crashed op must not read as a fast one. */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val src = new OpSource {
      val cycleLength = 3
      def op(i: Int): Op[_] = i % 3 match {
        case 0 => Op("ok") { Thread.sleep(5); 1 } { r => if (r == 1) None else Some("?") }
        case 1 => Op[Int]("throws") {
          Thread.sleep(150); throw new IllegalStateException("injected")
        } { _ => None }
        case 2 => Op("wrong") { Thread.sleep(150); 2 } { r =>
          if (r == 1) None else Some(s"injected wrong result $r")
        }
      }
    }
    val rs = Loop.run(src, budgetS = 0.05, wallCapS = 10)
    val st = LatencyStats.of(rs)
    val cycles = rs.size / 3
    val problems = Seq(
      (rs.size % 3 == 0 && cycles >= 1) -> s"ran ${rs.size} ops, not whole cycles",
      (st.attempted == rs.size) -> s"attempted ${st.attempted} of ${rs.size}",
      (st.failed == 2 * cycles) -> s"failed ${st.failed}, expected ${2 * cycles}",
      (math.abs(st.failedFrac - 2.0 / 3) < 1e-9) -> s"failed_ops_frac ${st.failedFrac}",
      (st.samples == cycles) -> s"${st.samples} latency samples, expected $cycles",
      rs.filter(_.kind != "ok").forall(r => r.seconds.isEmpty && r.error.isDefined) ->
        "a failed op carries a timing or no reason",
      rs.flatMap(_.seconds).forall(_ < 0.1) -> "a failed op's time entered the samples",
      (st.p90 < 0.1) -> s"p90 ${st.p90} s includes a failed op"
    ).collect { case (false, why) => why }
    if (problems.isEmpty) {
      println(s"[perfbench] selftest ok: $cycles cycles, failed_ops_frac=${st.failedFrac}, " +
        f"p90=${st.p90}%.4f s from ${st.samples} correct ops")
    } else {
      problems.foreach(p => System.err.println("[perfbench] selftest FAILED: " + p))
      sys.exit(1)
    }
  }
}
