package graft.tools

import scala.util.control.NonFatal

import graft.Harness

/** Plan-review tool: dump formatted physical plans for the catalog queries
  * (or a named subset; an unknown name exits 2) so
  * pushdown/pruning/broadcast/codegen can be audited.
  * `sbt "runMain graft.tools.Explain [sfDir] [query ...]"`.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val known = graft.Queries.all.keySet
    val names = known.toSeq.sorted.filter(
      if (args.length > 1)
        Harness.orExit(Harness.only("Explain query", args.tail.mkString(","), known))
      else known)
    val spark = Harness.session("graft-explain")
    names.foreach { name =>
      println(s"\n===================== $name =====================")
      try graft.Queries.all(name)(spark, sfDir).explain("formatted")
      catch { case NonFatal(e) => println(s"explain failed: $e") }
    }
    spark.stop()
  }
}
