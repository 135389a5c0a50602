package graftbench

import java.io.File

/** Every workload's set-up in one JVM — each set-up already runs its
  * workload's calls once, to warm them — run once per build with
  * `-XX:ArchiveClassesAtExit`: the classes it loads become the
  * class-data archive every measured run maps at start. */
object Train {
  def main(args: Array[String]): Unit = {
    val work = new File(args.sliding(2).collectFirst { case Array("--work", w) => w }
      .getOrElse(".bench_build/work"))
    val spark = Main.session(work)
    try Main.workloads.toSeq.sortBy(_._1).foreach { case (w, make) =>
      make().setup(spark, new File(work, w).getPath, 0L, new Ledger)
    } finally spark.stop()
  }
}
