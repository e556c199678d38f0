package graft

import org.scalatest.funsuite.AnyFunSuite

/** The driver-contract wiring itself: names only, no Spark session.
  * A queries entry without an oracle silently downgrades that operator
  * to a rows-only check at the correctness gate; a Bench.Headline name
  * absent from queries records a fake error marker in the round bench.
  * Both are config drift a query-level test can't catch.
  */
class DriverContractSpec extends AnyFunSuite {

  test("every query carries an oracle and every oracle names a query (zero rows-only paths)") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((q -- o).isEmpty, s"queries without oracle: ${(q -- o).toSeq.sorted}")
    assert((o -- q).isEmpty, s"oracles without query: ${(o -- q).toSeq.sorted}")
  }

  test("every Bench headline name is a registered query") {
    val missing = Bench.Headline.filterNot(SparkEntry.queries.contains)
    assert(missing.isEmpty, s"headline names not in queries: $missing")
  }

  test("headline has no duplicates") {
    val dups = Bench.Headline.groupBy(identity).collect { case (n, xs) if xs.size > 1 => n }
    assert(dups.isEmpty, s"duplicated headline names: $dups")
  }

  // ---- round-12: the judge-side gates folded into the build ----

  private def sourceFiles: Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    walk(new java.io.File("src"))
  }

  test("leak hygiene: every import is a public root; no private endpoints or credentials") {
    // the per-round LEAKCHECK grep, as a build gate: everything here
    // must derive from public knowledge (Spark/Hadoop/DataSketches/JDK/
    // scalatest + this repo) — an import outside these roots, or a
    // bucket/endpoint/key marker, fails the build instead of the round
    val allowedImport =
      "^(java|javax|scala|graft|org\\.apache\\.(spark|hadoop|datasketches)|org\\.scalatest|org\\.scalacheck|spark\\.implicits)[._]".r
    // assembled by concatenation so this spec's own literals don't
    // self-flag when the scan walks this file
    val sep = ":" + "//"
    val markers = Seq("s3" + sep, "gs" + sep, "slack" + ".com", "hooks" + ".slack",
      "AKI" + "A", "BEGIN PRIVATE" + " KEY", "x-api" + "-key")
    val badImports = scala.collection.mutable.ArrayBuffer.empty[String]
    val badMarkers = scala.collection.mutable.ArrayBuffer.empty[String]
    // sources are UTF-8 (µs/Σ in scaladoc); the forked test JVM's
    // default charset may be ASCII, so decode explicitly
    implicit val codec: scala.io.Codec = scala.io.Codec.UTF8
    sourceFiles.foreach { f =>
      val src = scala.io.Source.fromFile(f)
      try src.getLines().zipWithIndex.foreach { case (line, i) =>
        val t = line.trim
        if (t.startsWith("import ")) {
          val target = t.stripPrefix("import ").takeWhile(c => c != ' ' && c != '{')
          // local aliases (e.g. `import spark.implicits._`, TextFns._)
          // have no dot-root resolvable here; only flag fully-qualified
          // roots that are clearly foreign
          val root = target.takeWhile(_ != '.')
          val known = Set("java", "javax", "scala", "graft", "org", "spark")
          if (known(root) && allowedImport.findFirstIn(target).isEmpty &&
              !target.startsWith("org.apache.spark") && !target.startsWith("graft"))
            badImports += s"${f.getPath}:${i + 1}: $t"
        }
        markers.foreach { m =>
          if (line.toLowerCase.contains(m.toLowerCase))
            badMarkers += s"${f.getPath}:${i + 1}: $m"
        }
      } finally src.close()
    }
    assert(badImports.isEmpty, s"non-public imports:\n${badImports.mkString("\n")}")
    assert(badMarkers.isEmpty, s"private-endpoint/credential markers:\n${badMarkers.mkString("\n")}")
  }

  test("bench summary line: 10 injected long errors keep it inside the parse window and valid JSON") {
    val ok = Bench.Headline.zipWithIndex.map { case (n, i) => n -> (0.5 + i) } ++
      Bench.ColdDual.toSeq.map(n => s"${n}__cold" -> 7.0)
    val err = (1 to 10).map(i =>
      s"q_injected_$i" -> ("java.lang.IllegalStateException: \"quoted\" \\ detail\n" * 20))
    val line = Bench.summaryLine(ok, err, 0, "bench_runs/bench_sf0.1_r99.json", "sf0.1", 2)
    assert(line.length <= Bench.SummaryBudget && line.length < 2000, s"${line.length} chars")
    val tree = new com.fasterxml.jackson.databind.ObjectMapper()
      .enable(com.fasterxml.jackson.databind.DeserializationFeature.FAIL_ON_TRAILING_TOKENS)
      .readTree(line)
    assert(tree.get("errors_n").asInt == 10)
    assert(tree.get("queries_n").asInt == Bench.Headline.size)
    assert(tree.get("errors").size > 0, "some errors must be inlined")
    assert(tree.get("queries").size > 0, "the error map must leave room for queries")
  }

  test("one memo registry: no session-keyed TrieMap/ConcurrentHashMap outside SessionMemo.scala") {
    // a memo map of its own escapes SessionMemo's race-safe publish and
    // its single clear path (the hand-kept free list it replaced)
    implicit val codec: scala.io.Codec = scala.io.Codec.UTF8
    val decl = "(TrieMap|ConcurrentHashMap)\\s*(\\.\\s*empty\\s*)?\\[[^\\]]*SparkSession".r
    val main = sourceFiles.filter(_.getPath.startsWith(s"src${java.io.File.separator}main"))
    val hits = main.filter { f =>
      val src = scala.io.Source.fromFile(f)
      try decl.findFirstIn(src.mkString).isDefined finally src.close()
    }.map(_.getName)
    assert(hits.contains("SessionMemo.scala"), "the scan no longer recognizes the registry's own map")
    assert(hits.forall(_ == "SessionMemo.scala"),
      s"session-keyed memo maps outside SessionMemo: ${hits.filterNot(_ == "SessionMemo.scala")}")
  }

  test("one loop owner: freeLocalCheckpoint is called only in SessionMemo.scala and operators/Iterate.scala") {
    // a loop that frees its own cuts escapes Iterate's release contract
    // (the hand-kept lastCut/prev release code it replaced); the memo
    // registry frees the frames its entries pin
    implicit val codec: scala.io.Codec = scala.io.Codec.UTF8
    val sep = java.io.File.separator
    val owners = Seq(s"graft${sep}SessionMemo.scala", s"graft${sep}operators${sep}Iterate.scala")
    val call = "\\bfreeLocalCheckpoint\\b".r
    val hits = sourceFiles.filter(_.getPath.startsWith(s"src${sep}main"))
      .flatMap { f =>
        val src = scala.io.Source.fromFile(f)
        try src.getLines().zipWithIndex.collect {
          case (line, i) if call.findFirstIn(line).isDefined &&
              !line.contains("def freeLocalCheckpoint") &&
              !line.trim.startsWith("//") && !line.trim.startsWith("*") =>
            f.getPath -> s"${f.getPath}:${i + 1}: ${line.trim}"
        }.toList finally src.close()
      }
    val stray = hits.filterNot(h => owners.exists(h._1.endsWith)).map(_._2)
    assert(stray.isEmpty, s"freeLocalCheckpoint outside its owners:\n${stray.mkString("\n")}")
    assert(owners.forall(o => hits.exists(_._1.endsWith(o))),
      s"the scan no longer recognizes the owners' own calls: ${hits.map(_._2)}")
  }

  test("no partition-seeded randomness: no rand(/randn( or spark_partition_id in src/main") {
    // their values depend on how rows fall into partitions, so a result
    // built on them changes with the partition count
    // (PartitionInvarianceSpec's contract)
    implicit val codec: scala.io.Codec = scala.io.Codec.UTF8
    val banned = "\\b(randn?\\s*\\(|spark_partition_id)".r
    val hits = sourceFiles.filter(_.getPath.startsWith(s"src${java.io.File.separator}main"))
      .flatMap { f =>
        val src = scala.io.Source.fromFile(f)
        try src.getLines().zipWithIndex.collect {
          case (line, i) if banned.findFirstIn(line).isDefined => s"${f.getPath}:${i + 1}: ${line.trim}"
        }.toList finally src.close()
      }
    assert(hits.isEmpty, s"partition-seeded randomness in src/main:\n${hits.mkString("\n")}")
  }

  test("strict plan gate: committed audit snapshot covers every query and all fact multi-scans are adjudicated") {
    // the whole-suite final-plan audit as a REGRESSION gate inside sbt
    // test: the committed snapshot (regenerated each round alongside
    // code changes) must (a) contain every registered query — so adding
    // a query without auditing its plan fails the build — and (b) pass
    // scripts/plan_audit.py --strict, so an unadjudicated fact
    // multi-scan fails the build, not the next judge
    val snaps = Option(new java.io.File("bench_runs").listFiles()).getOrElse(Array.empty)
      .filter(_.getName.matches("plan_audit_r\\d+\\.jsonl"))
      .sortBy(f => f.getName.stripPrefix("plan_audit_r").stripSuffix(".jsonl").toInt)
    assert(snaps.nonEmpty, "no committed plan_audit_r<N>.jsonl snapshot in bench_runs/")
    val snap = snaps.last
    val names = {
      val src = scala.io.Source.fromFile(snap)
      try "\"q\":\"([^\"]+)\"".r.findAllMatchIn(src.mkString).map(_.group(1)).toSet
      finally src.close()
    }
    val missing = SparkEntry.queries.keySet -- names
    assert(missing.isEmpty,
      s"queries missing from ${snap.getName} — regenerate the audit snapshot: ${missing.toSeq.sorted}")
    val rc = scala.sys.process.Process(
      Seq("python3", "scripts/plan_audit.py", "--strict", snap.getPath)).!
    assert(rc == 0, s"strict plan gate failed on ${snap.getName} (see scripts/plan_audit.py output)")
    // allowlist hygiene: every adjudication names a live query
    val allowSrc = scala.io.Source.fromFile("scripts/plan_audit_allowlist.json")
    val allow = try "\"(q[a-z0-9_]+)\"\\s*:".r.findAllMatchIn(allowSrc.mkString).map(_.group(1)).toSet
      finally allowSrc.close()
    val stale = allow -- SparkEntry.queries.keySet
    assert(stale.isEmpty, s"allowlist entries naming no registered query: ${stale.toSeq.sorted}")
  }
}
