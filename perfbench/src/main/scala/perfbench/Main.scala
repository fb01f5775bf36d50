package perfbench

/** Entry point of the benchmark JVM; `run.py` is the user-facing command.
  *
  *   probe <dir> <q1,q2|all> <reps> <collect|count>
  *   run --workload W --seed N --seconds S --trace 0|1 --data D
  *       --work DIR --out FILE --expected FILE [--record 1]
  */
object Main {
  def main(args: Array[String]): Unit = {
    val cores = sys.env.getOrElse("PERFBENCH_CORES", "4").toInt
    def tmp = System.getProperty("java.io.tmpdir")
    args.toList match {
      case "probe" :: dir :: names :: reps :: mode :: Nil =>
        val spark = Session.build(cores, tmp)
        Probe.run(spark, dir, names.split(",").toSeq, reps.toInt, mode); spark.stop()
      case "run" :: rest =>
        val kv = rest.grouped(2).collect { case Seq(k, v) => k.stripPrefix("--") -> v }.toMap
        Harness.run(Args(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
          kv("trace") == "1", kv("data"), kv("work"), kv("out"),
          kv("expected"), cores, kv.get("record").contains("1")))
      case _ =>
        System.err.println(s"unknown arguments: ${args.mkString(" ")}"); sys.exit(2)
    }
  }
}
