package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

import graft.io.TableIO

/** The superstep driver every iterative kernel runs on ([[PageRank]],
  * [[ConnectedComponents.hashMin]], [[LabelPropagation]],
  * [[graft.topics.LDA]], [[graft.topics.GSDMM]]). A kernel supplies its
  * start state and one lazy superstep; the driver owns the loop and this
  * contract (north rule: every superstep resumable from a snapshot with
  * lineage and metrics):
  *
  *  - '''Resume.''' With `checkpointTable` set, a run starts after the
  *    table's latest committed snapshot (a HEAD at step s resumes at s + 1),
  *    otherwise from `init`. Either start state is truncated with an eager
  *    `localCheckpoint`.
  *  - '''Fusion.''' `stepsPerJob = k` chains up to k supersteps lazily and
  *    materializes the block with ONE `localCheckpoint`, which also cuts the
  *    lineage (without the cut the plan, and planning time, grows with every
  *    superstep). Each chained superstep still runs its own shuffles; only
  *    the per-job fixed cost (job scheduling, the state materialization, the
  *    convergence action) is paid once per block instead of once per step.
  *  - '''Convergence.''' A kernel's convergence action runs once per block,
  *    on the new state and the block-start state, so convergence is
  *    block-granular. The block's checkpoint is then lazy: the convergence
  *    action materializes it, and block plus test cost one job.
  *  - '''Cadence.''' With `checkpointEvery = c`, a block commits when it
  *    ends at or past the next cadence point: relative steps 0, c, 2c, …,
  *    counted from the first superstep this call runs (6 unfused steps at
  *    c = 2 commit steps 0, 2, 4, 5). The final state, after a convergence
  *    exit or the last step, always commits, so the table's HEAD holds what
  *    the call returns. `localCheckpoint` blocks are executor-local and die
  *    with their executor; the cadence bounds the recompute an executor loss
  *    costs on a real cluster.
  *  - '''Metrics.''' Every manifest records `superstepSecs` (the block's wall
  *    time up to and including its convergence action) and `stepsInBlock`,
  *    plus the kernel's convergence and commit metrics.
  *  - '''Release.''' The state a block replaces is released once the new
  *    block is materialized, committed and compared against it. The state
  *    the call returns is never released; it belongs to the caller.
  */
object Supersteps {

  /** A convergence action's verdict on one block, plus manifest metrics. */
  final case class Check(converged: Boolean, metrics: Map[String, Double])

  /** @param state   `snapshot` of the final state: the rows HEAD holds
    * @param steps   supersteps completed, resumed ones included
    * @param metrics the last convergence check's metrics (empty if none ran)
    */
  final case class Result(state: DataFrame, steps: Int, metrics: Map[String, Double])

  /** @param init          start state when the table holds no snapshot
    * @param step          one lazy superstep: (state, absolute step) => state
    * @param resume        snapshot rows => start state
    * @param snapshot      state => the rows committed and returned
    * @param beginBlock    applied to the state before each block's chain
    * @param converged     the convergence action: (block-start state, new
    *                      state) => verdict; none runs the full `maxIters`
    * @param commitMetrics extra manifest metrics of a state being committed
    */
  def iterate(
      spark: SparkSession,
      init: => DataFrame,
      step: (DataFrame, Int) => DataFrame,
      maxIters: Int,
      checkpointTable: String,
      checkpointEvery: Int,
      stepsPerJob: Int = 1,
      resume: DataFrame => DataFrame = identity,
      snapshot: DataFrame => DataFrame = identity,
      beginBlock: DataFrame => DataFrame = identity,
      converged: Option[(DataFrame, DataFrame) => Check] = None,
      commitMetrics: DataFrame => Map[String, Double] = _ => Map.empty): Result = {
    val table = Option(checkpointTable).filter(_.nonEmpty)
    val (startStep, start) = table.flatMap(TableIO.read(spark, _)) match {
      case Some((meta, rows)) => (meta.step.toInt + 1, resume(rows))
      case None => (0, init)
    }
    val cadence = math.max(1, checkpointEvery)
    var state = start.localCheckpoint(true)
    var next = startStep // absolute index of the next superstep
    var nextCommit = 0 // relative step of the next cadence point
    var check = Check(converged = false, Map.empty)
    while (next < maxIters && !check.converged) {
      val t0 = System.nanoTime()
      val block = math.min(math.max(1, stepsPerJob), maxIters - next)
      val last = next + block - 1
      val chained = (next to last).foldLeft(beginBlock(state))(step)
      val newState = chained.localCheckpoint(converged.isEmpty)
      converged.foreach(c => check = c(state, newState))
      val secs = (System.nanoTime() - t0) / 1e9
      val rel = last - startStep
      table.foreach { t =>
        if (rel >= nextCommit || check.converged || last == maxIters - 1) {
          TableIO.commit(snapshot(newState), t, last,
            check.metrics ++ commitMetrics(newState) ++
              Map("superstepSecs" -> secs, "stepsInBlock" -> block.toDouble))
          nextCommit = (rel / cadence + 1) * cadence
        }
      }
      release(state)
      state = newState
      next = last + 1
    }
    Result(snapshot(state), next, check.metrics)
  }

  /** Frees a state's checkpoint blocks. `Dataset.unpersist` cannot: a local
    * checkpoint's blocks belong to the RDD under its `LogicalRDD`. */
  private def release(state: DataFrame): Unit = state.queryExecution.logical match {
    case r: LogicalRDD => r.rdd.unpersist(blocking = false)
    case _ =>
  }
}
