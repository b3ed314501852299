package graftbench

/** Entry points, driven by `run.py`:
  *
  *   run --workload W --seed N --seconds S --trace 0|1 --scratch DIR
  *       --data DIR --bench DIR --trace-out FILE
  *     one run; prints `GRAFTBENCH_RESULT {json}` as its last line
  *   datagen DIR SCRATCH
  *     writes the synthetic tables
  *   digests DATA_DIR SCRATCH
  *     prints the expected digests of every catalog op (for
  *     `expected/digests.json`)
  */
object Main {
  def main(args: Array[String]): Unit = args.toList match {
    case "run" :: rest =>
      val kv = rest.grouped(2).collect { case List(k, v) => k.stripPrefix("--") -> v }.toMap
      val cfg = Config(kv("workload"), kv("seed").toLong, kv("seconds").toInt, kv("trace") == "1",
        kv("scratch"), kv("data"), kv("bench"), kv("trace-out"))
      val result = Runner.run(cfg)
      println("GRAFTBENCH_RESULT " + Json(result))
    case List("datagen", dir, scratch) =>
      val spark = Runner.session(Config("datagen", 0L, 0, trace = false, scratch, dir, "", ""))
      DataGen.write(spark, dir)
      spark.stop()
    case List("digests", dataDir, scratch) =>
      val spark = Runner.session(Config("digests", 0L, 0, trace = false, scratch, dataDir, "", ""))
      graft.queries.DedupQueries.warmShared(spark, dataDir)
      val names = CatalogWorkload.Analytics ++ CatalogWorkload.Pipeline
      val w = new CatalogWorkload(names, dataDir, names.map(_ -> "").toMap, warmShared = false,
        nominalPassS = 0)
      val digests = w.catalogOps.map(op => op.name -> Digest.of(op.output(spark)))
      println(Json(scala.collection.immutable.ListMap(
        "data" -> DataGen.Version, "digests" -> scala.collection.immutable.ListMap(digests: _*))))
      spark.stop()
    case _ =>
      System.err.println("usage: see graftbench/README.md")
      sys.exit(2)
  }
}
