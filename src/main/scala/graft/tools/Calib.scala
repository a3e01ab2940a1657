package graft.tools

/** Fixed-work calibration probe for the bench harness.
  *
  * The bench's per-entry spread guard catches WITHIN-run variance (some
  * reps inflated, some not), but a STEADY external load inflates every
  * rep proportionally and sails straight through — two consecutive
  * driver artifacts carried `contended: false` while running uniformly
  * ~1.2-1.9x over the committed quiet runs, and only a manual per-entry
  * forensic comparison could tell inflation from regression. This probe
  * makes the artifact self-describing: a deterministic single-threaded
  * spin with a COMMITTED quiet-host timing ([[QuietSec]]) runs at bench
  * start and end; the worse of the two over the committed floor is the
  * run's inflation estimate, and past [[InflatedBound]] the artifact
  * flags itself.
  *
  * Single-threaded CPU work on purpose: it measures scheduler/CPU
  * contention (what inflates the queries) without touching storage, so
  * page-cache state can't fake a dirty verdict. Best-of-N absorbs the
  * first-rep JIT compile and stray scheduler blips the same way the
  * query timings do.
  */
object Calib {

  /** Quiet-host timing of [[once]] (seconds): best-of-5 measured on the
    * idle dev host (loadavg 0.2, three agreeing runs: 0.623/0.607/0.607).
    * Re-commit when the spin constant or host class changes.
    */
  val QuietSec = 0.607

  /** Inflation factor over [[QuietSec]] past which a run is flagged:
    * above the probe's own quiet jitter (<±10%) and below the r19 driver
    * run's 1.215, which inflated its entries yet did not flag itself at
    * the earlier 1.3.
    */
  val InflatedBound = 1.15

  /** Quiet-host timing of [[onceParallel]] (seconds): minimum of several
    * best-of-5 runs on the idle dev host (0.700/1.086/0.766 — the middle
    * reading IS a slowdown flicker the single arm barely saw, 1.09x vs
    * 1.6x, which is the asymmetry this arm exists for). A fully parallel
    * spin finishes in ~one single-thread time on an idle machine (every
    * core runs one thread); hypervisor steal or neighbor load stretches
    * it.
    */
  val QuietParSec = 0.700

  /** The fixed-work spin body: 3e8 xorshift64 steps, a serial data
    * dependency the JIT cannot vectorize away. Returns the end state so
    * callers can consume it (dead-code guard).
    */
  private def spin(): Long = {
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 300000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    x
  }

  /** One single-threaded fixed-work spin. ~0.6 s on a quiet core here. */
  def once(): Double = {
    val t0 = System.nanoTime()
    // consume x so the loop is not dead code; never 0 for this seed
    if (spin() == 0L) System.err.println("calib: degenerate xorshift state")
    (System.nanoTime() - t0) / 1e9
  }

  /** One all-cores spin: every hardware thread runs the fixed work
    * concurrently; wall = the slowest thread. This is the arm that
    * catches contention ONLY visible under parallelism — a measured
    * host-slowdown window inflated the 32-thread bench 2.4x while the
    * single-threaded spin read 1.01x quiet (hypervisor steal shows up
    * when you ask for every core, not one).
    */
  def onceParallel(): Double = {
    val n = Runtime.getRuntime.availableProcessors
    val t0 = System.nanoTime()
    val acc = new java.util.concurrent.atomic.AtomicLong()
    val ts = (1 to n).map(_ => new Thread(() => { acc.addAndGet(spin()); () }))
    ts.foreach(_.start())
    ts.foreach(_.join())
    if (acc.get() == 0L) System.err.println("calib: degenerate state")
    (System.nanoTime() - t0) / 1e9
  }

  /** The probe reading: best of 3 spins per arm (contention only ever
    * ADDS time — the same noise-floor argument as the bench's
    * best-of-3). Returns (single, parallel) wall seconds.
    */
  def best(): (Double, Double) =
    ((1 to 3).map(_ => once()).min, (1 to 3).map(_ => onceParallel()).min)

  /** Floors actually used for the ratio: the committed constants,
    * tightened by the MINIMUM this host has ever observed (persisted in
    * [[FloorFile]] beside the bench artifacts). Fixed work cannot run
    * faster than the hardware allows, so the observed minimum is a valid
    * floor by construction — this self-calibrates the probe DOWN on a
    * faster host (where the committed constants would under-report
    * inflation) and, via the re-commit path, documents when a slower
    * host class needs new constants (ratio persistently > 1 with the
    * machine demonstrably idle).
    */
  private val FloorFile = java.nio.file.Paths.get(".calib_floor")

  private def readFloors(): (Double, Double) =
    try {
      val parts = new String(java.nio.file.Files.readAllBytes(FloorFile),
        java.nio.charset.StandardCharsets.UTF_8).trim.split('\t')
      (math.min(QuietSec, parts(0).toDouble),
        math.min(QuietParSec, parts(1).toDouble))
    } catch { case _: Throwable => (QuietSec, QuietParSec) }

  private def writeFloors(s: Double, p: Double): Unit =
    try java.nio.file.Files.write(FloorFile,
      f"$s%.4f\t$p%.4f".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case _: Throwable => () } // telemetry file: never fail a run

  /** The run's inflation estimate from start/end probe pairs: the worst
    * arm's ratio over its floor ([[readFloors]]). Also folds the probes
    * into the persisted per-host minimum.
    */
  def ratioOf(probes: (Double, Double)*): Double = {
    val (fs, fp) = readFloors()
    writeFloors(math.min(fs, probes.map(_._1).min),
      math.min(fp, probes.map(_._2).min))
    probes.map { case (s, p) =>
      math.max(s / fs, p / fp)
    }.max
  }

  /** Measurement main for (re)committing the quiet floors: prints
    * best-of-5 per arm on the current host.
    */
  def main(args: Array[String]): Unit = {
    val s = (1 to 5).map(_ => once()).min
    val p = (1 to 5).map(_ => onceParallel()).min
    println(f"calib best-of-5: single $s%.3f sec, parallel $p%.3f sec")
  }
}
