package perfbench

/** The benchmark's own test: every workload at a tiny scale, untraced
  * and then traced with the same seed, must pass all its output checks
  * (the second run also proves the same-seed digest and that the traced
  * layer-by-layer forms give the composed entries' outputs); and every
  * check, the digest's included, must flag a deliberately perturbed copy
  * of the outputs it just accepted. Exit code 0 on success. */
object SelfTest {
  def run(base: Main.Args): Int = {
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    val only = if (base.workload.nonEmpty) Seq(base.workload)
      else Workload.All
    for (w <- only; pass <- 1 to 2) {
      val args = base.copy(workload = w, seconds = 0, scale = 0.05,
        seed = 7, trace = pass == 2, work = s"${base.work}/$w$pass",
        out = s"${base.out}/selftest")
      var caught: Seq[(String, Boolean)] = Nil
      val r = Main.run(args, wl => caught = wl.perturbed() :+
        ("same_seed_digest" -> Main.digestCheck(args, wl, wl.digest()._2 + "0")))
      val ok = r("correct") == true && r("failed") == 0L
      println(s"[selftest] $w run $pass: correct=${r("correct")} failed=${r("failed")}")
      if (!ok) failures += s"$w run $pass did not pass its checks"
      caught.foreach { case (name, passed) =>
        println(s"[selftest] $w perturbed $name -> ${if (passed) "MISSED" else "flagged"}")
        if (passed) failures += s"$w: $name missed a perturbed output"
      }
      if (caught.isEmpty) failures += s"$w: no perturbation checks ran"
    }
    failures.foreach(f => println(s"[selftest] FAIL $f"))
    println(s"[selftest] ${if (failures.isEmpty) "ok" else "FAILED"}")
    if (failures.isEmpty) 0 else 1
  }
}
