package perfbench

import java.nio.file.{Files, Paths}

/** Records the `query_mix` expectations: each query's row count and
  * checksum over the bundled tables. With a third argument, the
  * directory of a `graft.Verify` dump of the same queries (checked
  * against the DuckDB oracle with `tools/check_oracle.py` and
  * `tools/strict_gate.py`), it also checksums the dump and refuses to
  * record a query whose dump disagrees.
  *
  * {{{
  * perfbench.RecordExpected <tables dir> <out.json> [<verify dump dir>]
  * }}}
  */
object RecordExpected {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.Sessions.local(Runtime.getRuntime.availableProcessors, "perfbench-expected")
    spark.sparkContext.setLogLevel("WARN")
    val names = graft.SparkEntry.queries.keys.toSeq
    val out = (QueryMix.light ++ QueryMix.heavy).map { id =>
      val name = names.find(_.startsWith(id + "_")).getOrElse(sys.error(s"no query $id"))
      val ck = Checksum.of(graft.SparkEntry.queries(name)(spark, args(0)))
      val dump = args.lift(2).map(d => Paths.get(d, name)).filter(Files.isDirectory(_))
      val oracle = dump.map(d => Checksum.of(spark.read.parquet(d.toString)))
      require(oracle.forall(_ == ck), s"$name: engine $ck, verified dump ${oracle.get}")
      System.err.println(s"$id $name $ck verified=${oracle.isDefined}")
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      id -> Map("name" -> name, "rows" -> ck.rows, "hi" -> ck.hi, "lo" -> ck.lo,
        "dump_verified" -> oracle.isDefined)
    }
    Files.writeString(Paths.get(args(1)), Json.render(out.toMap) + "\n")
    spark.stop()
  }
}
