package graft

/** Environment self-certification for benchmark runs (`graftbench` records
  * it before and after each run). */
object Bench {

  /** Environment self-certification (VERDICT r9 §wrong-1): driver-side runs
    * have shown 2.7–4.2× inflation on CPU-bound kernels for three rounds,
    * caused by sibling JVMs (sbt, other builds) competing for cores. The
    * bench can't fix that, but it can make it visible: record 1-min loadavg
    * and the number of OTHER java processes before the timed passes, and
    * emit both in the JSON. A run with `contended:true` is self-declared
    * untrustworthy for cross-round comparison. */
  case class EnvCert(loadavg: Double, siblingJvms: Int, contended: Boolean) {
    def json: String =
      s""""env":{"loadavg":$loadavg,"sibling_jvms":$siblingJvms,"contended":$contended}"""
  }

  def certifyEnv(cpus: Int): EnvCert = {
    val load =
      try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
        .split("\\s+")(0).toDouble
      catch { case _: Throwable => -1.0 }
    // The bench itself is launched through sbt, so the sbt launcher JVM is
    // always our ancestor — exclude the whole ancestor chain (it idles
    // while the run executes); only UNRELATED JVMs signal contention.
    val excluded = {
      var ids = Set(ProcessHandle.current().pid())
      var p = ProcessHandle.current().parent()
      while (p.isPresent) { ids += p.get.pid(); p = p.get.parent() }
      ids
    }
    val siblings =
      try {
        import scala.jdk.CollectionConverters._
        ProcessHandle.allProcesses().iterator().asScala.count { p =>
          !excluded(p.pid()) &&
            p.info().command().map[Boolean](_.endsWith("java")).orElse(false)
        }
      } catch { case _: Throwable => -1 }
    // Contended = any unrelated JVM alive, or pre-existing load well past
    // what our own sbt compile + JVM startup leave in the 1-min average
    // (~2-3 on this 32-core box). The raw numbers are emitted either way
    // so a reader can judge borderline runs.
    EnvCert(load, siblings, contended = load > 8.0 || siblings > 0)
  }
}
