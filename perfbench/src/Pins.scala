package perfbench

/** Input pins. The generators live in the program (`LogSynth`), so a
  * change there could reshape a workload silently. Each generator the
  * workloads use is pinned at one fixed seed, which any reshape changes
  * too, by its event count and an order-sensitive checksum (see
  * [[Common.checksum]]). Every run checks every pin, whatever its
  * `--seed` and `--seconds`; a mismatch is a failed op. */
object Pins {
  private val pinned: Seq[(String, () => Common.Log, Int, String)] = Seq(
    ("base log (500 sites, seed 42)", () => BaseStore.log, 5298, "e078ef8b8cb99a36"),
    ("dense tail (seed 0)", () => CatchUpDense.tail(0), 2117, "cc67b56049f57695"),
    ("live updates (seed 0, 21 files)", () => LiveSparse.updates(0, 21), 672, "9a5d80e72c39ad12"))

  def check(rec: Record): Unit = pinned.foreach { case (what, gen, events, sum) =>
    val log = gen()
    val got = Common.checksum(log)
    rec.attempt(log.size == events && got == sum,
      s"input pin: $what generated ${log.size} events with checksum $got, pinned $events and $sum")
  }
}
