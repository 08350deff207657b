package steadybench

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** A broken expected value must fail the op and the run. */
class CheckSpec extends AnyFunSuite {
  private lazy val work = Files.createTempDirectory("steadybench-check").toString
  private lazy val spark = Main.session(work)

  private def firstRound(w: Workload): Seq[OpResult] =
    new Harness(spark).runRound(w.round(0), new Tracer(spark, enabled = false))

  test("ingest: the served views match the stream's truth, and a perturbed one fails") {
    val ok = new IngestLoad(Ctx(spark, 3, s"$work/ok", perturb = false))
    try assert(firstRound(ok).forall(_.ok))
    finally ok.stop()
    val bad = new IngestLoad(Ctx(spark, 3, s"$work/bad", perturb = true))
    val rs = try firstRound(bad) finally bad.stop()
    assert(rs.nonEmpty && rs.forall(!_.ok))
    assert(Main.exitCode(rs.count(!_.ok)) != 0)
  }

  test("batch: a perturbed reference hash fails every op") {
    val bad = new BatchLoad(Ctx(spark, 3, s"$work/batch", perturb = true))
    val rs = firstRound(bad)
    assert(rs.length == BatchLoad.Queries.length && rs.forall(!_.ok))
  }

  test("the exit code is 0 only without failures") {
    assert(Main.exitCode(0) == 0 && Main.exitCode(1) != 0)
  }
}
