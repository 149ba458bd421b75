package perfbench

import java.nio.file.Paths

/** Benchmark JVM entry point:
  * `perfbench.Main --workload W --seed N --seconds S --trace 0|1 --cpus C --work DIR`.
  * Prints the run's result as one JSON line prefixed with `RESULT `.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = RunArgs(
      workload = opts("workload"),
      seed = opts("seed").toLong,
      seconds = opts("seconds").toDouble,
      trace = opts.getOrElse("trace", "0") == "1",
      work = Harness.mkdirs(Paths.get(opts("work")).toAbsolutePath),
      cpus = opts.get("cpus").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors()))
    val r = new Result
    a.workload match {
      case "cdc_drain" => Drain.run(a, r)
      case "cdc_tail" => Tail.run(a, r)
      case "registry_sweep" => Registry.run(a, r)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    r.put("live_heap_mb", Harness.liveHeapMb, "MB")
    if (a.trace) Layers.only(r, Layers.all)
    println("RESULT " + r.json)
    System.out.flush()
    // Spark and Derby leave non-daemon threads behind; the result is out
    Runtime.getRuntime.halt(0)
  }
}
