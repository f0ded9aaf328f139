package perfbench

/** One closed-loop client: the next cycle starts only after the
  * previous one finished, as the scanner and the ingest driver do. */
trait Workload {
  /** Writes cycle `k`'s input files (untimed). */
  def generate(k: Int): Unit

  /** Runs the program on cycle `k`'s inputs; this is what is timed.
    * With a tracer the cycle is pinned: it runs layer by layer, each
    * layer under its own span. */
  def run(k: Int, tracer: Option[Tracer]): CycleOut

  /** Compares the cycle's outputs with what the generator expects and
    * advances the oracle's own state. Also called for a cycle that
    * threw (out = None), so the oracle stays in step. */
  def check(k: Int, out: Option[CycleOut]): Boolean

  /** Units of work cycle `k` carries (grid rows or documents). */
  def items(k: Int): Long

  /** Per-layer counts of the pinned cycles, and the on-disk state the
    * program keeps. */
  def layerCounts(): Map[String, Double]

  /** Workload-specific correctness figures for the notes line. */
  def quality(): Map[String, Double] = Map.empty
}

/** What a cycle hands back for checking: delivered messages, the
  * mirrored row count (-1 without a mirror), and the boundary counts of
  * a pinned cycle, taken after the timer stops. */
final case class CycleOut(messages: Seq[String] = Nil, mirrored: Long = -1,
                          counts: () => Map[String, Double] = () => Map.empty)
