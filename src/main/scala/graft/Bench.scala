package graft

/** Per-round benchmark main. Forces each query with the `noop` sink —
  * every row and every column of the result is materialized (VERDICT r1:
  * `.count()` let Catalyst prune all columns and flatter scan-heavy
  * plans). Failures are NOT silently timed: a failed query reports -1.0
  * and lands in the `errors` list.
  *
  * Determinism on a shared box (VERDICT r5: run-to-run spread was the
  * noisiest part of the evidence): each query runs `SPARK_GRAFT_REPEATS`
  * times (default 5 — raised from 3 in r7 after whole-RUN totals of
  * otherwise-identical exclusive runs spread 60.5→78.7 s with the
  * inflation concentrated in CPU-heavy queries; the in-VM load average
  * never saw the neighbor) and the headline `queries`/`value` numbers
  * are the per-query MIN — the repeat least polluted by neighbors —
  * with medians in `queries_median` and 1/5/15-min load averages
  * stamped before and after, so the JSON is self-describing about how
  * noisy the box was.
  *
  * r10 pair-calibration (VERDICT r9 ask #5: same-code p90 noise 1.23×
  * had outgrown the 1.25× regression threshold): (a) queries whose
  * fastest base repeat is >= SPARK_GRAFT_HEAVY_THRESHOLD get
  * SPARK_GRAFT_HEAVY_EXTRA additional repeats — min-of-N tightens
  * where it matters; (b) every run emits `queries_selfratio` — the
  * SPLIT-HALF ratio max(min(even reps), min(odd reps)) / min(...) per
  * query, same-code BY CONSTRUCTION — plus a run-level `noise` summary
  * (p50/p90/max of those ratios). A cross-build comparison
  * (tools/bench_compare.py) flags a regression only when its min-ratio
  * clears the runs' own noise floor, giving a stated confidence
  * instead of a bare threshold. */
object Bench {
  private def loadAvg(): Seq[Double] = {
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    val one = os.getSystemLoadAverage // -1.0 if unavailable
    try {
      val parts = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg"))).split("\\s+")
      Seq(parts(0).toDouble, parts(1).toDouble, parts(2).toDouble)
    } catch { case _: Throwable => Seq(one, -1.0, -1.0) }
  }

  def main(args: Array[String]): Unit = {
    val only = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(SparkEntry.select(_).toSet)
    // Sharded self-fork (r10 harness lesson, SCALE.md): one long JVM
    // deterministically slows late queries via JIT profile pollution —
    // the 151-query surface measured a 1.16×→1.32× first-to-last-third
    // drift against its own forked ground truth, and the bias GROWS as
    // the surface grows, corrupting cross-round totals. Bounding each
    // JVM to SPARK_GRAFT_SHARD_SIZE queries (default 12, alphabetical,
    // so shard boundaries are deterministic) caps a query's pollution
    // depth at its position within its shard instead of its position in
    // an ever-growing surface. ~12 s spawn cost per shard. Set
    // SPARK_GRAFT_SHARD_SIZE=0 to force the old single-JVM behavior;
    // runs at or under the shard size (incl. bench_forked.sh's
    // per-query calls) are in-process exactly as before.
    val shardSize =
      math.max(0, sys.env.getOrElse("SPARK_GRAFT_SHARD_SIZE", "12").toInt)
    val alreadyForked = sys.env.get("SPARK_GRAFT_FORKED").contains("1")
    val selected = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    if (!alreadyForked && shardSize > 0 && selected.length > shardSize) {
      runSharded(selected, shardSize)
      return
    }
    runInProcess(only)
  }

  /** Frozen shard membership (VERDICT r11 ask #1b). The alphabetical
    * deal re-computes shard composition whenever a query is added, and
    * shard composition — who shares and precedes you in a 12-query
    * JVM — moves sub-second absolutes 1.2–1.9× via JIT-profile
    * pollution (r11: 85 phantom regressions, judge-adjudicated to code
    * parity). So membership is FROZEN in a committed manifest
    * (`bench/shard_manifest.json`, override via
    * SPARK_GRAFT_SHARD_MANIFEST): manifest queries keep their r11-close
    * shard forever (alphabetical within the shard, preserving in-shard
    * position), and queries NOT in the manifest fill NEW shards
    * appended after the frozen ones — existing queries' JVM context
    * never changes as the surface grows. No manifest (or an unreadable
    * one) falls back to the alphabetical deal. Returns (shards,
    * usedManifest). */
  private def shardsFor(
      names: Seq[String], shardSize: Int): (Seq[Seq[String]], Boolean) = {
    import scala.jdk.CollectionConverters._
    val path = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_SHARD_MANIFEST", "bench/shard_manifest.json"))
    val manifest: Option[Map[String, Int]] =
      if (!java.nio.file.Files.exists(path)) None
      else try {
        val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        val root = mapper.readTree(java.nio.file.Files.readAllBytes(path))
        val m = root.path("shard_of").properties().asScala
          .map(e => e.getKey -> e.getValue.asInt()).toMap
        if (m.isEmpty) None else Some(m)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] shard manifest unreadable ($e); " +
          "falling back to alphabetical deal")
        None
      }
    manifest match {
      case Some(m) =>
        val (known, fresh) = names.partition(m.contains)
        val frozen = known.groupBy(m).toSeq.sortBy(_._1).map(_._2.sorted)
        (frozen ++ fresh.sorted.grouped(shardSize).toSeq, true)
      case None => (names.grouped(shardSize).toSeq, false)
    }
  }

  /** Spawn one child JVM (same args + classpath) per `shardSize`-query
    * shard; merge the children's JSON lines into the single output
    * line/artifact. A shard whose child fails falls back to in-process
    * execution, so a broken spawn environment degrades to the old
    * behavior instead of failing the bench. */
  private def runSharded(names: Seq[String], shardSize: Int): Unit = {
    import scala.jdk.CollectionConverters._
    val loadBefore = loadAvg()
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val javaBin = java.nio.file.Paths
      .get(System.getProperty("java.home"), "bin", "java").toString
    val jvmArgs = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getInputArguments.asScala.toSeq
    val cp = System.getProperty("java.class.path")
    val (shards, usedManifest) = shardsFor(names, shardSize)
    val shardJsons = shards.zipWithIndex.map { case (shard, i) =>
      val tmp = java.nio.file.Files.createTempFile(s"bench_shard$i", ".json")
      val spawned =
        try {
          val cmd = (Seq(javaBin) ++ jvmArgs ++
            Seq("-cp", cp, "graft.Bench")).asJava
          val pb = new ProcessBuilder(cmd)
          pb.environment().put("SPARK_GRAFT_FORKED", "1")
          pb.environment().put("SPARK_GRAFT_QUERIES", shard.mkString(","))
          pb.environment().put("SPARK_GRAFT_BENCH_OUT", tmp.toString)
          // child stdout carries its own JSON line — keep the parent's
          // stdout clean for the merged line the driver parses
          pb.redirectOutput(ProcessBuilder.Redirect.DISCARD)
          pb.redirectError(ProcessBuilder.Redirect.INHERIT)
          System.err.println(
            s"[bench] shard ${i + 1}/${shards.length}: ${shard.head}..${shard.last}")
          pb.start().waitFor() == 0 &&
            java.nio.file.Files.size(tmp) > 0
        } catch { case e: Throwable =>
          System.err.println(s"[bench] shard spawn failed: ${e.getMessage}")
          false
        }
      val text =
        if (spawned)
          new String(java.nio.file.Files.readAllBytes(tmp), "UTF-8")
        else {
          System.err.println(
            s"[bench] shard ${i + 1} falling back to in-process")
          runInProcess(Some(shard.toSet), printLine = false)
        }
      java.nio.file.Files.deleteIfExists(tmp)
      mapper.readTree(text)
    }
    def mergeObj(field: String): String = shardJsons
      .flatMap(j => j.path(field).properties().asScala
        .map(e => "\"" + e.getKey + "\":" + e.getValue.toString))
      .mkString("{", ",", "}")
    val selfRatios = shardJsons
      .flatMap(_.path("queries_selfratio").properties().asScala
        .map(_.getValue.asDouble())).sorted
    val noise =
      if (selfRatios.isEmpty) """{"p50":1.0,"p90":1.0,"max":1.0}"""
      else f"""{"p50":${selfRatios(selfRatios.length / 2)}%.4f,""" +
        f""""p90":${selfRatios((selfRatios.length * 9) / 10)}%.4f,""" +
        f""""max":${selfRatios.last}%.4f}"""
    val total = shardJsons.map(_.path("value").asDouble()).sum
    val errs = shardJsons
      .flatMap(_.path("errors").elements().asScala.map(_.toString))
      .mkString("[", ",", "]")
    val first = shardJsons.head
    def arr(xs: Seq[Double]) = xs.mkString("[", ",", "]")
    // Shard-composition stamp (VERDICT r11 ask #7): query → shard index,
    // so composition-sensitivity questions are answerable from the
    // artifact alone (in-shard position = rank among alphabetically
    // sorted co-members; the shard's member set is the shard_of
    // preimage of the index).
    val shardOf = shards.zipWithIndex
      .flatMap { case (shard, i) => shard.map(q => "\"" + q + "\":" + i) }
      .mkString("{", ",", "}")
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec",""" +
        s""""method":"sharded-fork",""" +
        s""""queries":${mergeObj("queries")},""" +
        s""""queries_median":${mergeObj("queries_median")},""" +
        s""""queries_selfratio":${mergeObj("queries_selfratio")},""" +
        s""""noise":$noise,"repeats":${first.path("repeats").asInt()},""" +
        s""""heavy_threshold":${first.path("heavy_threshold").asDouble()},""" +
        s""""heavy_extra":${first.path("heavy_extra").asInt()},""" +
        s""""shard_size":$shardSize,"n_shards":${shards.length},""" +
        s""""shard_manifest":$usedManifest,"shard_of":$shardOf,""" +
        s""""load_avg_before":${arr(loadBefore)},""" +
        s""""load_avg_after":${arr(loadAvg())},""" +
        s""""errors":$errs,"sf":"${first.path("sf").asText()}"}"""
    println(json)
    writeArtifact(json)
    // parse-stable FINAL stdout line (VERDICT r12 ask #7): the driver
    // keeps only a ~2000-char stdout tail, which decapitates the full
    // 190-query JSON line (BENCH_r11/r12 both recorded parsed:null) —
    // so the LAST line is a compact headline the tail always holds
    // whole; the per-query map lives in the committed artifact.
    println(compactLine(total, "sharded-fork", shardJsons.map(_.path(
      "queries").properties().size).sum, noise, errs, first.path("sf").asText()))
  }

  private def compactLine(
      total: Double, method: String, nQueries: Int,
      noise: String, errs: String, sf: String): String =
    s"""{"metric":"total","value":$total,"unit":"sec",""" +
      s""""method":"$method","n_queries":$nQueries,"noise":$noise,""" +
      s""""errors":$errs,"sf":"$sf",""" +
      s""""queries_artifact":"bench/bench_latest.json"}"""

  private def writeArtifact(json: String): Unit =
    try {
      val out = java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench/bench_latest.json"))
      if (out.getParent != null) java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.write(out, (json + "\n").getBytes("UTF-8"))
      System.err.println(s"[bench] full JSON written to $out")
    } catch { case e: Throwable =>
      System.err.println(s"[bench] artifact write skipped: ${e.getMessage}")
    }

  private def runInProcess(
      only: Option[Set[String]], printLine: Boolean = true): String = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val repeats = math.max(1, sys.env.getOrElse("SPARK_GRAFT_REPEATS", "5").toInt)
    val spark = Session.local()
    spark.sparkContext.setLogLevel("WARN")
    val loadBefore = loadAvg()
    // untimed warmup: pay session/codegen/parquet-footer init once, not
    // inside the first measured query
    try {
      Seq("lineitem", "orders", "customer", "part", "supplier", "nation",
        "region", "events", "documents", "embeddings").foreach { name =>
        Tables(spark, sfDir, name).limit(1).write.format("noop")
          .mode("overwrite").save()
      }
    } catch { case _: Throwable => () }
    // Adaptive repeats (r9 verdict ask #5): queries whose fastest base
    // repeat is >= this threshold get SPARK_GRAFT_HEAVY_EXTRA more —
    // min-of-N variance shrinks where regressions actually matter
    // (heavy queries), without paying extra reps on the 0.3 s tail.
    val heavyThreshold =
      sys.env.getOrElse("SPARK_GRAFT_HEAVY_THRESHOLD", "1.0").toDouble
    // default 2, not more: long one-JVM benches accumulate JIT/codegen
    // state, and past ~30 heavy-query executions the iterative-planning
    // queries fall off a measured cliff (SCALE.md "code cache") — extra
    // repeats must not push the execution count into it
    val heavyExtra =
      math.max(0, sys.env.getOrElse("SPARK_GRAFT_HEAVY_EXTRA", "2").toInt)
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
        // min-of-N: each repeat is a full replan + re-execution; a failed
        // repeat fails the query (no partial timings survive)
        var failed = false
        def run(): Double = {
          val t0 = System.nanoTime()
          try {
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          } catch {
            case e: Throwable =>
              System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
              failed = true
          }
          // stop the clock BEFORE cleanup: billing the GC pause of the
          // just-finished query to its own sample biased even min-of-N up
          val elapsed = (System.nanoTime() - t0) / 1e9
          // drop per-query artifacts (cached plans, persisted and
          // checkpointed blocks, codegen refs) so later runs aren't taxed
          // by earlier ones' heap residue
          Session.release(spark)
          System.gc()
          elapsed
        }
        val base = (1 to repeats).iterator.takeWhile(_ => !failed)
          .map(_ => run()).toVector
        val extra =
          if (!failed && base.min >= heavyThreshold)
            (1 to heavyExtra).iterator.takeWhile(_ => !failed)
              .map(_ => run()).toVector
          else Vector.empty
        val times = base ++ extra
        if (failed) (name, -1.0, -1.0, -1.0, false)
        else {
          val sorted = times.sorted
          // split-half SELF-calibration: interleaved odd/even repeats
          // are same-code by construction, so max(minA,minB)/min(...)
          // is this run's own noise floor at the min-of-N statistic —
          // the reference distribution a cross-build comparison must
          // beat (tools/bench_compare.py)
          val (evens, odds) = times.zipWithIndex.partition(_._2 % 2 == 0)
          val selfRatio =
            if (odds.isEmpty) 1.0
            else {
              val a = evens.map(_._1).min
              val b = odds.map(_._1).min
              math.max(a, b) / math.min(a, b)
            }
          (name, sorted.head, sorted(sorted.length / 2), selfRatio, true)
        }
      }
    val loadAfter = loadAvg()
    val qs = results.map { case (k, mn, _, _, _) => "\"" + k + "\":" + mn }
      .mkString("{", ",", "}")
    val meds = results.map { case (k, _, md, _, _) => "\"" + k + "\":" + md }
      .mkString("{", ",", "}")
    val selfs = results.filter(_._5)
      .map { case (k, _, _, sr, _) => "\"" + k + "\":" + f"$sr%.4f" }
      .mkString("{", ",", "}")
    // run-level noise summary over the per-query split-half ratios: a
    // cross-build min ratio below noise_p90 is indistinguishable from
    // same-code noise; above noise_max it is a >~99%-confidence change
    val srs = results.filter(_._5).map(_._4).sorted
    val noise =
      if (srs.isEmpty) """{"p50":1.0,"p90":1.0,"max":1.0}"""
      else f"""{"p50":${srs(srs.length / 2)}%.4f,""" +
        f""""p90":${srs((srs.length * 9) / 10)}%.4f,"max":${srs.last}%.4f}"""
    val errs = results.filterNot(_._5).map("\"" + _._1 + "\"").mkString("[", ",", "]")
    val total = results.filter(_._5).map(_._2).sum
    def arr(xs: Seq[Double]) = xs.mkString("[", ",", "]")
    // Method epoch tag (r10 verdict ask #1): the sharded-fork harness
    // changed the measurement method, so absolutes are only comparable
    // within a method. Every artifact self-describes its method;
    // tools/bench_compare.py refuses to compare across methods (it
    // infers the method of pre-tag artifacts from shard_size/forked).
    // A single-query child of the sharded parent reports single-jvm,
    // which is literally true; the parent's merged line carries the
    // sharded-fork tag the comparisons use.
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec",""" +
        s""""method":"single-jvm","queries":$qs,""" +
        s""""queries_median":$meds,"queries_selfratio":$selfs,""" +
        s""""noise":$noise,"repeats":$repeats,""" +
        s""""heavy_threshold":$heavyThreshold,"heavy_extra":$heavyExtra,""" +
        s""""load_avg_before":${arr(loadBefore)},"load_avg_after":${arr(loadAfter)},""" +
        s""""errors":$errs,"sf":"$sfDir"}"""
    if (printLine) println(json)
    // Also persist the FULL per-query JSON as a repo artifact: the
    // driver's stdout tail truncates at 2000 chars, which loses the
    // first ~40 queries of the alphabetical map every round and makes
    // regressions there unauditable from the round artifacts alone.
    writeArtifact(json)
    spark.stop()
    // compact headline as the final stdout line — see runSharded
    if (printLine)
      println(compactLine(total, "single-jvm", results.count(_._5),
        noise, errs, sfDir))
    json
  }
}
