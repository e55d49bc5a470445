package graft

/** Scale-lint law (VERDICT r7 #3): the q48/q56/q264 hazard class —
  * a window partitioned by a CONSTANT-CARDINALITY key (or none) running
  * directly over a corpus-scale frame — funnels N/k rows through ONE
  * task at 100x, invisibly to plan pins that assert exchanges rather
  * than partition sizes. This spec walks every catalog query's
  * optimized logical plan and flags any Window whose partition key is
  * drawn solely from the bounded-domain column set AND whose subtree
  * contains no reducing operator (Aggregate / Deduplicate / limit)
  * between the window and the scans.
  *
  * The reduction test is a signature match, not a cardinality proof: a
  * window above an Aggregate runs over a frame bounded by the GROUP
  * DOMAIN (histogram buckets, distinct integer gaps, per-day rollups),
  * which is exactly the two-pass/bucketed shape q257 sanctions. A
  * window that earns its pass through a join whose OTHER side is
  * aggregated does NOT pass by subtree inspection (ADVICE r8: an
  * Aggregate on the small dimension side of an EXPANDING join proved
  * nothing about the probe side) — for Join and Union nodes the
  * reduction must hold on EVERY branch, and the known-good
  * filter-joins (the q48/q56 pass-2 broadcast locate, which keeps
  * ~1/buckets of the corpus) go through the allowlist, each entry now
  * MEASURED by ScaleLintMeasureSpec rather than prose-justified
  * (VERDICT r9 #1).
  *
  * The bounded-domain column set is the union of a hand list of plan
  * aliases and a set DERIVED from the testdata's own distinct counts
  * (VERDICT r9 #6) — see ScaleLint.derivedBoundedCols.
  */
class ScaleLintSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  /** ONE catalog walk shared by the catalog-wide lints (r15 review:
    * each walk rebuilds every query DataFrame, and for the five
    * streaming gates that runs a full AvailableNow replay just to read
    * a plan — independent walks paid that replay cost once per lint).
    * The QueryExecution caches both the optimized logical plan (the
    * window/cartesian lints) and the physical plan (the exchange
    * ledger), so every lint reads the same planning pass.
    */
  private lazy val catalogQEs
  : Seq[(String, org.apache.spark.sql.execution.QueryExecution)] =
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      name -> fn(spark, sf).queryExecution
    }

  private def optimizedPlans
  : Seq[(String, org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)] =
    catalogQEs.map { case (name, qe) => name -> qe.optimizedPlan }

  test("the fixpoint loop machinery lives only in Fixpoint.scala") {
    // A hand-rolled loop (its own observe, release or plan dump) must
    // not grow back beside the shared driver. q268's BFS keeps its own
    // loop but uses none of the three.
    val dir = new java.io.File("src/main/scala/graft/ops")
    assert(dir.isDirectory, s"no source directory at ${dir.getAbsolutePath}")
    val offenders = for {
      f <- dir.listFiles().toSeq.sortBy(_.getName)
      if f.getName.endsWith(".scala") && f.getName != "Fixpoint.scala"
      text = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      tok <- Seq("Observation(", "releaseCheckpoints", "dumpRoundPlan")
      if text.contains(tok)
    } yield s"${f.getName}: $tok"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  /** (path, text) of every `.scala` file under `dir`, in path order. */
  private def scalaSources(dir: String): Seq[(String, String)] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(dir)
    assert(java.nio.file.Files.isDirectory(root), s"no source directory at ${root.toAbsolutePath}")
    val files = java.nio.file.Files.walk(root)
    try files.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      .sortBy(_.toString)
      .map(p => p.toString -> new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
    finally files.close()
  }

  /** Scala source with its comments blanked. String and character
    * literals are kept whole, so a comment opener inside one is text.
    */
  private def stripComments(t: String): String = {
    val charLit = """'(\\u[0-9a-fA-F]{4}|\\.|[^\\'\n])'""".r
    val out = new StringBuilder
    val n = t.length
    var i = 0
    while (i < n) {
      if (t.startsWith("//", i)) {
        val j = t.indexOf('\n', i)
        i = if (j < 0) n else j
      } else if (t.startsWith("/*", i)) {
        var depth = 1
        i += 2
        while (depth > 0 && i < n) {
          if (t.startsWith("/*", i)) { depth += 1; i += 2 }
          else if (t.startsWith("*/", i)) { depth -= 1; i += 2 }
          else i += 1
        }
        out += ' '
      } else {
        val j =
          if (t.startsWith("\"\"\"", i)) {
            var e = t.indexOf("\"\"\"", i + 3)
            while (e >= 0 && t.startsWith("\"\"\"\"", e)) e += 1
            if (e < 0) n else e + 3
          } else if (t.charAt(i) == '"') {
            var e = i + 1
            while (e < n && t.charAt(e) != '"' && t.charAt(e) != '\n')
              e += (if (t.charAt(e) == '\\') 2 else 1)
            math.min(e + 1, n)
          } else if (t.charAt(i) == '\'')
            charLit.findPrefixOf(t.subSequence(i, math.min(n, i + 8)))
              .fold(i + 1)(i + _.length)
          else i + 1
        out ++= t.substring(i, j)
        i = j
      }
    }
    out.toString
  }

  test("no repartition feeds a localCheckpoint in main code") {
    // Under AQE a checkpoint leaf keeps no layout
    // (PartitionedCheckpointSpec), so a shuffle straight before one is a
    // full exchange whose result every reader exchanges again. `args`
    // is a call's argument list, up to three parentheses deep.
    val args = """\((?:[^()]|\((?:[^()]|\([^()]*\))*\))*\)"""
    val feed = ("""\.(repartition\w*""" + args + """)\s*\.localCheckpoint\(""").r
    val offenders = for {
      (path, text) <- scalaSources("src/main")
      m <- feed.findAllMatchIn(stripComments(text))
    } yield s"${java.nio.file.Paths.get(path).getFileName}: ${m.group(1)}"
    assert(offenders.isEmpty,
      s"repartition straight into localCheckpoint: ${offenders.mkString(", ")}")
  }

  test("main code reads exactly the listed session options and environment knobs") {
    // Adding a knob is a decision: it edits this list. The graft.* list is empty.
    val text = scalaSources("src/main").map(_._2).mkString("\n")
    def found(re: String) = re.r.findAllMatchIn(text).map(_.group(1)).toSet
    assert(found("\"(graft\\.[a-z0-9_.]+)\"") == Set.empty[String])
    assert(found("(SPARK_GRAFT_[A-Z_]+)") ==
      Set("SPARK_GRAFT_CPUS", "SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_ONLY"))
  }

  test("main code defines nothing that only tests reach, apart from the listed names") {
    // A name defined in src/main (def, val, var, object, class or trait,
    // not an override) is unreached when no other main file and no
    // perfbench source names it, and its own file, comments stripped,
    // names it only at its definition. The rule reads text, not types:
    // it misses a name that is also spelled elsewhere for something
    // else (a local `firstSeen` in CorpusStatsOps would hide an unused
    // method of that name), and it takes a name inside a string for a
    // use. Keys are `<file>.<name>`, or the bare name of a file's own
    // top-level object. Keeping a new unreached name is a decision: it
    // edits this list with its reason.
    val allowed = Map(
      "Bench" -> "entry point: the catalog timing main",
      "Verify" -> "entry point: the catalog dump main that scripts/oracle_check.py reads",
      "SparkEntry.entry" -> "entry point: the flagship query, smoke-checked for rows > 0",
      "MinHashAgg.minhashSig" -> "test oracle: the aggregate form the scalar signature must equal",
      "DedupOps.shingles" -> "test oracle: the string shingles the hashed ones must match",
      "BankSchema.errorSchema" -> "test oracle: the reference's ERROR_RECORDS_SCHEMA (bp.py:80-85)",
      "BankingPipeline.writeJson" -> "the reference's K1/K2 text sink (bp.py:375-383)")
    val ident = "[A-Za-z_][A-Za-z0-9_]*".r
    def counts(text: String): Map[String, Int] =
      ident.findAllIn(text).toSeq.groupMapReduce(identity)(_ => 1)(_ + _)
    val main = scalaSources("src/main").map { case (p, t) =>
      val stripped = stripComments(t)
      (p, stripped, counts(stripped))
    }
    val bench = scalaSources("perfbench/src")
      .map { case (_, t) => counts(stripComments(t)) }
    val definition = ("((?:(?:override|private|protected|final|lazy|implicit|" +
      "case|sealed|abstract)(?:\\[\\w+\\])?\\s+)*)" +
      "(?:def|val|var|object|class|trait)\\s+([A-Za-z_][A-Za-z0-9_]*)").r
    val unreached = (for {
      (path, text, own) <- main
      m <- definition.findAllMatchIn(text)
      if !m.group(1).contains("override")
      name = m.group(2)
      if own(name) == 1
      if !main.exists { case (p, _, c) => p != path && c.contains(name) }
      if !bench.exists(_.contains(name))
    } yield {
      val file = java.nio.file.Paths.get(path).getFileName.toString.stripSuffix(".scala")
      if (name == file) name else s"$file.$name"
    }).toSet
    assert(unreached == allowed.keySet,
      s"newly unreached (delete, or list with a reason): ${unreached -- allowed.keySet}; " +
        s"listed but reached or gone: ${allowed.keySet -- unreached}")
  }

  test("no window partitions a corpus-scale frame by a constant-cardinality key") {
    val bounded = ScaleLint.boundedDomainCols(spark)
    assert(optimizedPlans.size == CatalogContract.expectedSize,
      s"catalog is ${optimizedPlans.size} entries, expected " +
        s"${CatalogContract.expectedSize} (bump CatalogContract on growth)")
    val offenders = optimizedPlans.flatMap { case (name, plan) =>
      ScaleLint.flagged(name, plan, bounded).map(_._1)
    }.distinct.filterNot(ScaleLint.allow.contains)
    assert(offenders.isEmpty,
      "constant-cardinality window over an unreduced corpus frame " +
        "(one task sorts N/k rows at 100x — re-plan on the q257 " +
        s"two-pass bucket or count-per-value pattern): ${offenders.mkString("; ")}")
  }

  test("no condition-less join multiplies two unbounded frames") {
    // corpus x corpus cartesian products cannot ship at any scale; a
    // condition-less join is only sane when one side is provably O(1)
    // rows (a global aggregate, a literal frame, a literal limit) —
    // the crossJoin(broadcast(scalarAgg)) pattern the catalog uses for
    // anchors and denominators. Walks every query's optimized plan.
    val offenders = optimizedPlans.flatMap { case (name, plan) =>
        ScaleLint.cartesianFlagged(name, plan).map(_._1)
      }.distinct.filterNot(ScaleLint.cartesianAllow.contains)
    assert(offenders.isEmpty,
      s"unbounded cartesian product in: ${offenders.mkString(", ")}")
  }

  test("allowlisted cartesians keep a bounded small side (measured)") {
    // The window-allowlist discipline (VERDICT r9 #1) applied to the
    // cartesian allowlist: each entry's justification is a COUNT at two
    // SFs, not prose. The smaller side of every flagged join must stay
    // under its declared bound at sf0.001 AND sf0.01 — a side that
    // grows with the corpus blows the bound at the larger SF.
    ScaleLint.cartesianBound.foreach { case (name, bound) =>
      Seq(sf, "/root/testdata/sf0.01").foreach { dir =>
        val plan = SparkEntry.queries(name)(spark, dir)
          .queryExecution.optimizedPlan
        val joins = ScaleLint.cartesianFlagged(name, plan).map(_._2)
        assert(joins.nonEmpty,
          s"$name: allowlisted but nothing flagged at $dir — stale entry")
        joins.foreach { j =>
          val minSide = math.min(
            org.apache.spark.sql.graftbridge.Bridge.ofRows(spark, j.left)
              .count(),
            org.apache.spark.sql.graftbridge.Bridge.ofRows(spark, j.right)
              .count())
          assert(minSide <= bound,
            s"$name at $dir: smaller cartesian side has $minSide rows " +
              s"(bound $bound)")
        }
      }
    }
    // q199 is justification-only (the exact-recall audit is quadratic
    // by construction); every other allowlisted entry must be measured.
    assert(ScaleLint.cartesianAllow.keySet --
      ScaleLint.cartesianBound.keySet == Set("q199_ivf_topk"),
      "every cartesianAllow entry except the q199 audit needs a bound")
  }

  test("no global window runs over a corpus-grain frame") {
    // VERDICT r14 #4: the constant-key lint accepts ANY Aggregate as
    // reduction, so a global (no-partition) window above a CORPUS-KEYED
    // Aggregate — per-part revenue, per-customer rank: dimension-sized
    // but corpus-GROWING — funneled a growing frame through one task
    // unseen. The grain test proves the window input bounded by value
    // domains (or the OrderStat chunk contract); everything else is
    // either allowlisted with a measured bound below or exempt via
    // `allow` (located slices under the share-plus-growth discipline).
    val bounded = ScaleLint.boundedDomainCols(spark)
    val offenders = optimizedPlans.flatMap { case (name, plan) =>
        ScaleLint.globalWindowFlagged(name, plan, bounded).map(_._1)
      }.distinct
      .filterNot(ScaleLint.globalWindowAllow.contains)
      .filterNot(ScaleLint.allow.contains)
    assert(offenders.isEmpty,
      "global window over a corpus-grain frame (one task sorts the " +
        "whole frame at 100x — re-plan on OrderStat's two-level scan " +
        s"or the q257 bucket pattern): ${offenders.mkString("; ")}")
  }

  test("allowlisted global windows keep a bounded input (measured)") {
    // Same discipline as the cartesian allowlist: each entry's
    // justification is a COUNT at two SFs, not prose — a corpus-
    // growing input blows its bound at the larger SF.
    val bounded = ScaleLint.boundedDomainCols(spark)
    ScaleLint.globalWindowBound.foreach { case (sig, bound) =>
      val qname = sig.takeWhile(_ != '[')
      Seq(sf, "/root/testdata/sf0.01").foreach { dir =>
        val plan = SparkEntry.queries(qname)(spark, dir)
          .queryExecution.optimizedPlan
        val ws = ScaleLint.globalWindowFlagged(qname, plan, bounded)
          .filter(_._1 == sig).map(_._2)
        assert(ws.nonEmpty,
          s"$sig: allowlisted but nothing flagged at $dir — stale entry")
        ws.foreach { w =>
          val in = org.apache.spark.sql.graftbridge.Bridge
            .ofRows(spark, w.child).count()
          assert(in <= bound,
            s"$sig at $dir: global-window input has $in rows (bound $bound)")
        }
      }
    }
    assert(ScaleLint.globalWindowAllow.keySet ==
      ScaleLint.globalWindowBound.keySet,
      "every globalWindowAllow entry needs a measured bound")
  }

  test("exchange ledger: no query grows a shuffle or broadcast") {
    // The cheapest structural cost model of the whole catalog: each
    // query's (shuffle, broadcast) exchange counts from the
    // pre-execution physical plan, pinned exactly against
    // src/test/resources/exchange_ledger.tsv (generated by
    // ProbeExchangeLedger under this spec's session config). Every
    // shuffle is a cluster-wide data movement at 100 TB; a refactor
    // that silently adds one — or trades a broadcast for a shuffle —
    // fails here with the per-query delta, and a DELIBERATE re-plan
    // updates the TSV, making the diff the reviewable record of where
    // the shuffles moved.
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/exchange_ledger.tsv"), "UTF-8")
    val pinned = try src.getLines().filter(_.nonEmpty).map { l =>
      val Array(n, s, b) = l.split("\t")
      n -> (s.toInt, b.toInt)
    }.toMap finally src.close()
    val actual = catalogQEs.map { case (name, qe) =>
      name -> ScaleLint.exchangeCounts(qe)
    }.toMap
    assert(pinned.keySet == actual.keySet,
      s"ledger/catalog key drift: only-ledger=${pinned.keySet -- actual.keySet} " +
        s"only-catalog=${actual.keySet -- pinned.keySet} " +
        "(regenerate via ProbeExchangeLedger)")
    val drift = actual.toSeq.sorted.collect {
      case (n, a) if a != pinned(n) =>
        s"$n: shuffles ${pinned(n)._1}->${a._1}, broadcasts ${pinned(n)._2}->${a._2}"
    }
    assert(drift.isEmpty,
      s"exchange counts drifted (deliberate re-plan? regenerate the " +
        s"TSV via ProbeExchangeLedger):\n${drift.mkString("\n")}")
  }

  test("derived bounded-domain set sees the testdata enums") {
    // Guard the derivation itself: the known enums must be discovered
    // from data (not just hand-listed), and corpus-growing key/text
    // columns must never qualify — if the derivation broke toward
    // "everything bounded", the lint would flag half the catalog; if
    // toward "nothing bounded", new enums would escape silently.
    val derived = ScaleLint.derivedBoundedCols(spark)
    val mustHave = Set("event_type", "o_orderpriority", "o_orderstatus",
      "l_returnflag", "l_linestatus", "c_mktsegment", "p_brand",
      "n_name", "r_name", "source", "lang")
    assert((mustHave -- derived).isEmpty,
      s"testdata enums missing from derivation: ${mustHave -- derived}")
    val mustNotHave = Set("o_orderkey", "l_orderkey", "c_custkey",
      "doc_id", "text", "event_id", "user_id", "ts", "o_totalprice")
    assert((mustNotHave & derived).isEmpty,
      s"corpus-growing columns wrongly derived as bounded: " +
        s"${mustNotHave & derived}")
  }
}
