package graft.perfbench

/** One workload behind one interface: `warmUp` is the untimed part of
  * set-up, `measure` the timed run.
  */
trait Workload {
  def warmUp(): Unit
  def measure(seed: Long, seconds: Double, root: Long): Result
  def close(): Unit = ()
}

/** One workload run's outcome. */
final case class Result(attempted: Int, failed: Int,
    e2e: Map[String, Double], layers: Map[String, Double],
    detail: Map[String, Any])
