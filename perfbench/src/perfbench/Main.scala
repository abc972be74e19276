package perfbench

/** Harness entry: runs one workload in the current (throwaway) directory
  * and prints its result as the last line of standard output.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val r = a.workload match {
      case "kg_batch" => KgBatch.run(a)
      case "annotate_service" => AnnotateService.run(a)
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }
    val out = if (a.trace) r.copy(metrics = Layers.complete(r.metrics)) else r
    println(out.json)
  }
}
