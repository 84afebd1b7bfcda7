package graft.perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** The catalog's expected output checks, taken from a `graft.Verify` dump.
  * `perfbench/expected.py` runs it only after the DuckDB oracle has passed
  * on that dump, so every recorded checksum is of an output the oracle
  * accepted.
  *
  *   Expected entries                    the catalog entries that have an oracle
  *   Expected checksums DUMP WORK OUT    row count and checksum of each, as JSON */
object Expected {
  def main(args: Array[String]): Unit = args.toSeq match {
    case Seq("entries") =>
      println(Catalog.Entries.filterNot(_ == Catalog.Sketch).mkString(","))
    case Seq("checksums", dump, work, out) =>
      val spark = Main.session(Runtime.getRuntime.availableProcessors, work)
      val checks = Catalog.Entries.map { name =>
        // the sketch entry has no exact answer: its check is the bound
        name -> (if (name == Catalog.Sketch) Map("bound_ok" -> true) else {
          val (n, h) = Main.checksum(spark.read.parquet(s"$dump/$name"))
          Map("rows" -> n, "checksum" -> h)
        })
      }.toMap
      new ObjectMapper().registerModule(DefaultScalaModule)
        .writeValue(new java.io.File(out), checks)
      spark.stop()
    case _ =>
      System.err.println("usage: Expected entries | Expected checksums DUMP WORK OUT")
      sys.exit(2)
  }
}
