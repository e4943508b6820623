package graft.tools

/** What the volume benches (`MergeBench`, `DedupBench`, `GraphBench`,
  * `StatsBench`, `TextBench`, `AnnBench`) share: the splitmix64 hash their
  * deterministic inputs are built from, a wall-clock timer, and the
  * interleaved min-of-2 A/B. */
object BenchKit {

  /** splitmix64 of (a, b): pure and seedless, so a bench synthesizes the
    * same input on every run. */
  def h(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b * 0xD1B54A32D192ED03L +
      0x8CB92BA72F3D8DD7L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** `body`'s result and its wall time in seconds. */
  def time[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Alternating min-of-2 for an A/B pair — the box throttles
    * unpredictably (single-shot arms observed swinging 4–15× between
    * runs), so each arm runs twice INTERLEAVED with its rival and
    * reports its min: a throttle segment then penalizes both arms
    * equally instead of whichever ran inside it. Returns each arm's
    * first result and its min time. */
  def abBench(a: => Long, b: => Long): (Long, Double, Long, Double) = {
    val (ra1, ta1) = time(a); val (rb1, tb1) = time(b)
    val (_, ta2) = time(a); val (_, tb2) = time(b)
    (ra1, math.min(ta1, ta2), rb1, math.min(tb1, tb2))
  }
}
