package graft

/** Guards on the query-registry machinery itself: `Map ++` silently
  * last-wins on a duplicate key, so a mis-numbered new query would shadow
  * an old one and the correctness gate would shrink by one without
  * failing anywhere — this spec (and the matching `require` at registry
  * init) makes that a hard failure with the offending keys named. */
class RegistrySpec extends SparkSpec {

  test("query keys are unique across modules") {
    val keys = graft.queries.QueryRegistry.modules.flatMap(_.queries.keys)
    val dups = keys.groupBy(identity).filter(_._2.size > 1).keys.toSeq.sorted
    assert(dups.isEmpty, s"duplicate query keys across modules: $dups")
  }

  test("oracle keys are unique and every oracle has a query") {
    val modules = graft.queries.QueryRegistry.modules
    val okeys = modules.flatMap(_.oracleSql.keys)
    val dups = okeys.groupBy(identity).filter(_._2.size > 1).keys.toSeq.sorted
    assert(dups.isEmpty, s"duplicate oracle keys across modules: $dups")
    val qkeys = modules.flatMap(_.queries.keys).toSet
    val orphans = okeys.filterNot(qkeys.contains).sorted
    assert(orphans.isEmpty, s"oracle keys without a query: $orphans")
  }

  test("registry maps materialize and sizes agree with the module sum") {
    val modules = graft.queries.QueryRegistry.modules
    assert(graft.queries.QueryRegistry.queries.size ==
      modules.map(_.queries.size).sum)
    assert(graft.queries.QueryRegistry.oracleSql.size ==
      modules.map(_.oracleSql.size).sum)
  }

  // --- standing-store consumer enforcement (QueryTags) ------------------
  //
  // The r7/r8 standing-store sweeps were verified by LINE OWNERSHIP in
  // the verdicts — prose that nothing enforced: a consumer silently
  // regressing to an inline rebuild would only show as bench drift.
  // These tests encode the audit: split each query module's SOURCE into
  // per-query blocks (first occurrence of each "qNNN_name" -> marker =
  // the builder; the oracleSql occurrence comes later and is skipped)
  // and assert (a) every tagged consumer references its store helper,
  // (b) no block outside QueryTags.machineryGates calls an inline
  // builder, (c) every machinery gate still does (so the tag list can't
  // rot), (d) every tag key exists in the registry (no typos).

  private lazy val queryBlocks: Map[String, String] = {
    val dir = new java.io.File("src/main/scala/graft/queries")
    val marker = """"(q\d+_[a-z0-9_]+)"\s*->""".r
    val blocks = scala.collection.mutable.LinkedHashMap[String, String]()
    dir.listFiles().filter(_.getName.startsWith("Queries")).sorted
      .foreach { f =>
        val text = java.nio.file.Files.readString(f.toPath)
        val ms = marker.findAllMatchIn(text).toSeq
        ms.zipWithIndex.foreach { case (m, i) =>
          val end = if (i + 1 < ms.size) ms(i + 1).start else text.length
          val key = m.group(1)
          if (!blocks.contains(key)) // builder block precedes its oracle
            blocks(key) = text.substring(m.start, end)
        }
      }
    blocks.toMap
  }

  test("QueryTags keys all exist in the registry") {
    import graft.queries.QueryTags._
    val known = graft.queries.QueryRegistry.queries.keySet
    val all = instruments ++ knnGraphConsumers ++ annStoreConsumers ++
      indexStoreConsumers ++ machineryGates
    val unknown = (all -- known).toSeq.sorted
    assert(unknown.isEmpty, s"QueryTags names unknown queries: $unknown")
  }

  test("every standing-store consumer references its store helper in source") {
    import graft.queries.QueryTags._
    def check(consumers: Set[String], helpers: Seq[String]): Unit =
      consumers.toSeq.sorted.foreach { q =>
        val block = queryBlocks.getOrElse(q,
          fail(s"no source block found for tagged consumer $q"))
        assert(helpers.exists(block.contains),
          s"$q is tagged as a standing-store consumer but its builder " +
            s"references none of ${helpers.mkString(", ")}")
      }
    check(knnGraphConsumers, Seq("storedKnnGraph")) // incl. ...Path
    check(annStoreConsumers, Seq("storedAssigned", "storedAnnPath"))
    check(indexStoreConsumers,
      Seq("storedBm25", "storedIndexPath", "storedIndexTerms"))
  }

  test("inline builders appear ONLY in machinery-gate blocks") {
    import graft.queries.QueryTags._
    val inlineBuilders =
      Seq("Similarity.knnGraph(", "assignNearestCentroid(",
        "invertedIndex(")
    val offenders = queryBlocks.collect {
      case (q, block) if !machineryGates(q) &&
        inlineBuilders.exists(block.contains) => q
    }.toSeq.sorted
    assert(offenders.isEmpty,
      "inline store-builder calls outside QueryTags.machineryGates " +
        s"(either re-point to the standing store or register the gate): " +
        offenders.mkString(", "))
    // the inverse: every registered machinery gate still builds inline,
    // so a stale tag can't silently grant an exemption
    val stale = machineryGates.toSeq.sorted.filterNot { q =>
      inlineBuilders.exists(queryBlocks.getOrElse(q, "").contains)
    }
    assert(stale.isEmpty,
      s"machinery gates with no inline builder call (stale tag): $stale")
  }

  // --- one session factory, one measurement core ------------------------
  //
  // Probe mains used to grow one per experiment, each with its own session
  // and timing loop, and drifted apart from what Bench measures. Every
  // session now comes from Session and every probe mode lives in Probe.

  /** (file name, text) of every Scala source under `root`. */
  private def sources(root: String): Seq[(String, String)] = {
    import scala.jdk.CollectionConverters._
    val w = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
    try w.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
      .map(p => p.getFileName.toString -> java.nio.file.Files.readString(p))
    finally w.close()
  }
  private lazy val mainSources = sources("src/main/scala")

  test("only Session.scala builds a SparkSession in src/main") {
    val builders = mainSources.collect {
      case (f, text) if text.contains("SparkSession.builder") => f }
    assert(builders == Seq("Session.scala"), builders)
  }

  test("the mains in src/main are exactly Bench, Verify and Probe") {
    val mains = mainSources.flatMap { case (f, text) =>
      "def main\\(".r.findAllIn(text).map(_ => f.stripSuffix(".scala")) }
    assert(mains.sorted == Seq("Bench", "Probe", "Verify"), mains)
  }

  // --- one run path -----------------------------------------------------
  //
  // Bench and Probe used to time `groupBy().count()`, a second plan that
  // Catalyst prunes, and Verify wrote its own copy of the query through a
  // loop of its own. Every run now goes through Measure.run, whose `sink`
  // is the one action; a builder applied elsewhere, or a count plan in a
  // runner, shows up here.

  test("query builders are applied only inside Measure.run") {
    val runners = mainSources.filter { case (f, text) =>
      f == "Measure.scala" || text.contains("SparkEntry.queries") }
    assert(runners.map(_._1).sorted ==
      Seq("Bench.scala", "Measure.scala", "Probe.scala", "Verify.scala"), runners.map(_._1))
    // an unqualified call whose first argument is the session: `fn(spark, dir)`
    val applied = runners.flatMap { case (f, text) =>
      """(?<![\w.])\w+(?:\.apply)?\(spark\s*,""".r.findAllMatchIn(text).map { m =>
        val owner = "def (\\w+)".r.findAllMatchIn(text.take(m.start))
          .map(_.group(1)).toSeq.lastOption.getOrElse("")
        s"$f:$owner"
      }
    }
    assert(applied == Seq("Measure.scala:run"), applied)
    val counted = runners.collect {
      case (f, text) if text.contains("groupBy().count()") => f }.sorted
    assert(counted.isEmpty, s"count-only plans in the runners: $counted")
  }

  // --- one store-publish protocol ---------------------------------------
  //
  // The staged dir swap was once written out by hand in every store and
  // the copies drifted (one lost its leftover-`_old` cleanup). Only
  // StoreFiles moves dirs; the catalog replace is the one file move.

  test("only StoreFiles and the catalog replace move files atomically in src/main") {
    val movers = mainSources.flatMap { case (f, text) =>
      "ATOMIC_MOVE".r.findAllMatchIn(text).map { m =>
        val owner = "def (\\w+)".r.findAllMatchIn(text.take(m.start))
          .map(_.group(1)).toSeq.lastOption.getOrElse("")
        s"$f:$owner"
      }
    }
    assert(movers.filterNot(_.startsWith("StoreFiles.scala:")) ==
      Seq("VectorStore.scala:updateCatalog"), movers)
  }

  // --- one traversal core for GraphAnalytics ----------------------------
  //
  // The edge symmetrization, the PageRank round and the value-iteration
  // fold were each written out by hand in several operators. Each now
  // lives in one private helper; a second copy shows up here.

  test("GraphAnalytics writes each traversal idiom once") {
    val text = mainSources.collectFirst {
      case ("GraphAnalytics.scala", t) => t }.get
    for (idiom <- Seq("""e0.union(e0.select(col("b").as("a")""",
        """.filter(col("src") =!= col("dst")).distinct()""",
        "\"pr div deg\"", "decimal(27,15)"))
      assert(java.util.regex.Pattern.quote(idiom).r
        .findAllMatchIn(text).size == 1,
        s"$idiom should appear exactly once in GraphAnalytics.scala")
  }

  // --- one frontier loop for GraphAnalytics -----------------------------
  //
  // A loop's stop test used to be a second Spark job (isEmpty or count())
  // over the checkpoint it had just written. `Lineage.counted` takes the
  // count in the checkpoint's own job; a separate action shows up here.
  // Borůvka's `selRows` is a collected Array, not a Spark action.

  test("GraphAnalytics runs no Spark isEmpty or count() outside counted") {
    val text = mainSources.collectFirst {
      case ("GraphAnalytics.scala", t) => t }.get
    val actions = """\w*\.(?:isEmpty\b|count\(\))""".r.findAllMatchIn(text)
      .map { m =>
        val owner = "def (\\w+)".r.findAllMatchIn(text.take(m.start))
          .map(_.group(1)).toSeq.lastOption.getOrElse("")
        s"$owner:${m.matched}"
      }.toSeq
    assert(actions == Seq("boruvkaMst:selRows.isEmpty"), actions)
  }

  // --- one standing-state registry --------------------------------------
  //
  // Seven memo maps with four key shapes and two staleness rules, and
  // eighteen hand-built scratch paths (one of them without the per-JVM
  // token), were folded into QueryHelpers' one memo and one scratch
  // helper. A second map or a hand-built tmpdir path shows up here.

  test("only QueryHelpers roots scratch paths at java.io.tmpdir, in one place") {
    val users = mainSources.collect {
      case (f, text) if text.contains("java.io.tmpdir") => f }
    assert(users == Seq("QueryHelpers.scala"), users)
    val text = mainSources.collectFirst { case ("QueryHelpers.scala", t) => t }.get
    assert("\"java.io.tmpdir\"".r.findAllMatchIn(text).size == 1)
  }

  test("the query modules hold one memo map, in QueryHelpers") {
    val queries = sources("src/main/scala/graft/queries")
    val concurrent = queries.collect { case (f, text)
      if text.contains("ConcurrentHashMap") || text.contains("computeIfAbsent") => f }
    assert(concurrent.isEmpty, concurrent)
    val maps = queries.flatMap { case (f, text) =>
      "new java\\.util\\.\\w*Map".r.findAllMatchIn(text).map(_ => f) }
    assert(maps == Seq("QueryHelpers.scala"), maps)
  }

  test("tbl asserts its input is unchanged: a rewritten table throws naming the file") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft-stale").toString
    Seq(0L, 1L).toDF("n_nationkey").write.parquet(s"$d/nation.parquet")
    val first = graft.queries.QueryHelpers.tbl(spark, d, "nation")
    assert(first.count() == 2)
    assert(graft.queries.QueryHelpers.tbl(spark, d, "nation") eq first)
    Seq(0L, 1L, 2L).toDF("n_nationkey")
      .write.mode("overwrite").parquet(s"$d/nation.parquet")
    val e = intercept[IllegalStateException](
      graft.queries.QueryHelpers.tbl(spark, d, "nation"))
    assert(e.getMessage.contains(s"$d/nation.parquet"), e.getMessage)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d))
  }

  // --- one definition per shared query input ----------------------------
  //
  // The oracles' codebook, assignment and cell-pair CTEs and the builders'
  // near-dup corpus and canonical LSH call were once copied by hand into
  // every query that used them. Each is now written once, in
  // OracleHelpers or QueryHelpers; a new hand copy shows up here.

  private lazy val querySources = sources("src/main/scala/graft/queries")

  test("each shared oracle CTE is written once under queries/") {
    // SQL text with string margins dropped and whitespace collapsed, so a
    // copy re-wrapped over other lines still counts
    def collapsed(text: String): String =
      text.linesIterator.map(_.trim.stripPrefix("|")).mkString(" ")
        .replaceAll("\\s+", " ")
    val all = querySources.map { case (_, t) => collapsed(t) }.mkString(" ")
    import graft.queries.OracleHelpers._
    for (cte <- Seq(codebookCte, assignedCte, assignCte, cellPairsCte)) {
      val n = ("(?<!\\w)" + java.util.regex.Pattern.quote(collapsed(cte))).r
        .findAllMatchIn(all).size
      assert(n == 1, s"${cte.take(40)}... written $n times")
    }
  }

  test("the near-dup twin column is built only by QueryHelpers and q22") {
    val twin = """expr("substring(text, 1, greatest(length(text) - 7, 1))")"""
    val users = querySources.flatMap { case (f, text) =>
      java.util.regex.Pattern.quote(twin).r.findAllMatchIn(text).map(_ => f) }
    assert(users.sorted == Seq("Queries001to090.scala", "QueryHelpers.scala"), users)
    assert(queryBlocks("q22_ngram_jaccard").contains(twin))
  }

  test("the canonical MinHash-LSH call is written once in the query builders") {
    val call = """minhashLshPairs\([^)]*bands = 8, threshold = 0\.8\)""".r
    val users = querySources.flatMap { case (f, text) =>
      call.findAllMatchIn(text).map(_ => f) }
    assert(users == Seq("QueryHelpers.scala"), users)
  }

  test("no caller-set partition knob is left in src/main") {
    val knobs = mainSources.collect { case (f, text)
      if text.contains("shufflePartitions") || text.contains("edgePartitions") => f }
    assert(knobs.isEmpty, knobs)
  }

  // --- one registration point for the graft_* functions -----------------
  //
  // Twenty files used to register a function family before building a
  // column by name, two of them only through the active session (skipped
  // without a word on a thread that has none). The service file now has
  // Spark install GraftExtensions in every session; a per-call hook shows
  // up here.

  test("graft_* functions are installed by the service file alone") {
    val hooks = Seq("Expressions.register", "TopKAggregate.register",
      "registerFunction", "getActiveSession")
    val users = mainSources.collect {
      case (f, text) if hooks.exists(text.contains) => f }.sorted
    assert(users.isEmpty, s"per-call registration in src/main: $users")
    val service = java.nio.file.Paths.get("src/main/resources/META-INF/services",
      "org.apache.spark.sql.SparkSessionExtensionsProvider")
    val named = java.nio.file.Files.readString(service).linesIterator
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).toSeq
    assert(named == Seq("graft.plans.GraftExtensions"), named)
  }

  // --- one lineage-cut primitive -----------------------------------------
  //
  // Ninety-one call sites in twenty files picked their own checkpoint, and
  // two private variants re-wrapped stats or diffed the persistent-RDD map
  // to name a block. Every cut now goes through graft.Lineage, which names
  // the checkpoint RDD and the jobs it runs by the call site's label; a
  // direct checkpoint, a second variant or a shared or computed label
  // shows up here.

  test("every lineage cut in src/main goes through graft.Lineage") {
    val direct = mainSources.collect { case (f, text) if f != "Lineage.scala" &&
      (text.contains(".localCheckpoint(") || text.contains("checkpointDropStats") ||
        (f != "Bench.scala" && text.contains("getPersistentRDDs"))) => f }.sorted
    assert(direct.isEmpty, s"checkpoints outside Lineage.scala: $direct")
  }

  test("every Lineage cut and counted label is a string literal of its own") {
    // (file, enclosing def, callee, label argument) of every cut and
    // counted call and every standing-frame registration
    val calls = mainSources.filter(_._1 != "Lineage.scala").flatMap { case (f, text) =>
      """(?<![\w.]|def )(?:Lineage\.)?(cut|counted|namedLocalCheckpoint)\(""".r
        .findAllMatchIn(text).map { m =>
          val owner = "def (\\w+)".r.findAllMatchIn(text.take(m.start))
            .map(_.group(1)).toSeq.lastOption.getOrElse("")
          (f, owner, m.group(1), RegistrySpec.secondArgument(text, m.end))
        }
    }
    assert(calls.size > 100, s"only ${calls.size} calls found")
    // the registration forwards its caller's label to one cut
    val forwarded = calls.filter { case (f, owner, _, _) =>
      f == "QueryHelpers.scala" && owner == "namedLocalCheckpoint" }
    assert(forwarded.map(_._4) == Seq("label"), forwarded)
    val sites = calls.diff(forwarded)
    // a standing frame's label carries its input directory's slug
    val nonLiteral = sites.filterNot { case (_, _, callee, label) =>
      label.matches("\"[^\"$]+\"") || callee == "namedLocalCheckpoint" &&
        label.matches("s\"graft-standing:[^\"]+\"") }
    assert(nonLiteral.isEmpty, s"labels that are not string literals: $nonLiteral")
    val shared = sites.groupBy(_._4).collect { case (l, ls) if ls.size > 1 => l }
    assert(shared.isEmpty, s"labels shared by several call sites: $shared")
  }
}

object RegistrySpec {
  /** The source text of the second top-level argument of the call whose
    * argument list starts at `from` (just past its `(`), trimmed; string
    * literals and nested brackets are skipped whole. */
  def secondArgument(text: String, from: Int): String = {
    var depth = 0; var i = from; var start = -1
    var inString = false
    while (i < text.length && !(depth == 0 && !inString && text(i) == ')')) {
      val c = text(i)
      if (inString) { if (c == '\\') i += 1 else if (c == '"') inString = false }
      else c match {
        case '"' => inString = true
        case '(' | '[' | '{' => depth += 1
        case ')' | ']' | '}' => depth -= 1
        case ',' if depth == 0 =>
          if (start >= 0) return text.substring(start, i).trim
          start = i + 1
        case _ =>
      }
      i += 1
    }
    if (start >= 0) text.substring(start, i).trim else ""
  }
}
