package perfbench

import scala.util.Random

/** One measured pass over a workload's fixed work.
  *
  * @param seconds   wall time of the measured phase of the pass
  * @param ops       every attempted op, failed ones included
  * @param latencies per-op latencies, keyed by op: one per query run, or
  *                  one per pipeline request (build, re-run, first sync,
  *                  and each landing cycle)
  * @param layer     workload-specific per-layer numbers (traced runs)
  * @param summary   workload-specific end-user numbers, printed with
  *                  the result (e.g. the pipeline's build and rebuild times)
  * @param leftBytes bytes the pass's own outputs leave on disk outside the
  *                  engine's scratch dir (pipeline targets and checkpoints;
  *                  not its inputs)
  * @param rounds    wall time of each round of a query pass (each query
  *                  once); the pass's makespan is their median
  */
final case class PassResult(seconds: Double, ops: Seq[OpResult],
    latencies: Seq[(String, Double)], layer: Map[String, Double] = Map.empty,
    summary: Map[String, (Double, String)] = Map.empty, leftBytes: Long = 0L,
    rounds: Seq[Double] = Nil) {
  def makespan: Double = if (rounds.isEmpty) seconds else Stats.median(rounds)
}

trait Workload {
  def name: String

  /** Unmeasured first run of the workload's code paths: JIT, query
    * compilation and first-touch engine artifacts. Counted in set-up.
    */
  def warmup(ctx: Ctx, rng: Random): Unit

  /** One pass of the fixed work; `pass` numbers passes from 1. */
  def pass(ctx: Ctx, pass: Int, rng: Random, parent: Long): PassResult

  /** Direct per-layer probes, run only in a traced run, after the passes. */
  def probes(ctx: Ctx, rng: Random): Map[String, Double] = Map.empty
}

object Workload {
  val all: Seq[Workload] = Seq(PipelineBackfill, QueryWorkload.analyticMix)

  def named(n: String): Workload = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$n' (known: ${all.map(_.name).mkString(", ")})"))
}
