package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.etl.BankExprs
import graft.pipeline.BankingPipeline

/** Property-based invariants (SURVEY.md §5.2.2): totality of the scoring
  * functions, segment monotonicity, row conservation through the error
  * topology, and engagement-score bounds. Uses ScalaCheck generators with
  * a fixed seed (deterministic — the driver re-runs these per round).
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def sample[A](g: Gen[A], n: Int, seed: Long = 42L): List[A] =
    Gen.listOfN(n, g)(Gen.Parameters.default, Seed(seed)).get

  // Oracles for the sketch laws: the exploded pipelines each scalar
  // expression replaced, written out here independently of DedupOps.

  /** (doc_id, s): every word 3-gram of split(text, ' '), duplicates kept. */
  private def oracleShingles(docs: DataFrame): DataFrame = docs
    .select(col("doc_id"), split(col("text"), " ").as("w"))
    .where(size(col("w")) >= 3)
    .select(col("doc_id"), explode(expr(
      "transform(sequence(1, size(w) - 2), " +
        "i -> concat(element_at(w, i), ' ', element_at(w, i + 1), " +
        "' ', element_at(w, i + 2)))")).as("s"))

  /** (doc_id, sig): the 16-hash MinHash aggregate over the raw shingles. */
  private def minhashAggOracle(docs: DataFrame): DataFrame =
    oracleShingles(docs).groupBy("doc_id")
      .agg(graft.functions.MinHashAgg.minhashSig(col("s"), 16).as("sig"))

  /** (doc_id, s): explode + md5Long60 + distinct hashed shingles. */
  private def shingleHashOracle(docs: DataFrame): DataFrame =
    oracleShingles(docs)
      .select(col("doc_id"),
        conv(substring(md5(col("s")), 1, 15), 16, 10).cast("long").as("s"))
      .distinct()

  /** (doc_id, sig): explode words -> groupBy(doc_id) -> `bits`-column
    * bit-sum -> strict-majority assembly, hashing each word by its
    * leading `bits` md5 bits (32 = 8 hex chars, 60 = md5Long60).
    */
  private def simhashAggOracle(docs: DataFrame, bits: Int): DataFrame = {
    val hashCol =
      if (bits == 32)
        conv(substring(md5(col("word")), 1, 8), 16, 10).cast("long")
      else conv(substring(md5(col("word")), 1, 15), 16, 10).cast("long")
    val bitSums = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .select(col("doc_id"), hashCol.as("h"))
      .groupBy("doc_id").agg(
        sum(when(shiftright(col("h"), 0).bitwiseAND(1L) === 1L, 1)
          .otherwise(-1)).as("b0"),
        (1 until bits).map(j =>
          sum(when(shiftright(col("h"), j).bitwiseAND(1L) === 1L, 1)
            .otherwise(-1)).as(s"b$j")): _*)
    val sigExpr = (0 until bits)
      .map(j => when(col(s"b$j") > 0, lit(1L << j)).otherwise(0L))
      .reduce(_ + _)
    bitSums.select(col("doc_id"), sigExpr.as("sig"))
  }

  test("scoring functions are total: every int maps to one score in 1..5") {
    val vs = sample(Gen.chooseNum(-100000, 100000), 500) ++
      Seq(-1, 0, 3, 5, 7, 10, 30, 90, 180, 5000, 10000, 25000, 50000)
    val rows = vs.toDF("v").select(
      BankExprs.recencyScore(col("v")).as("r"),
      BankExprs.frequencyScore(col("v")).as("f"),
      BankExprs.monetaryScore(col("v").cast("double")).as("m"))
      .collect()
    rows.foreach { row =>
      assert((1 to 5).contains(row.getInt(0)))
      assert((1 to 5).contains(row.getInt(1)))
      assert((1 to 5).contains(row.getInt(2)))
    }
  }

  test("segment is monotone in the total score") {
    val order = Seq("low_value", "medium_value", "high_value", "premium")
    val triples = for { r <- 1 to 5; f <- 1 to 5; m <- 1 to 5 } yield (r, f, m)
    val got = triples.toDF("r", "f", "m")
      .select(col("r") + col("f") + col("m"),
        BankExprs.customerSegment(col("r"), col("f"), col("m")))
      .collect()
      .map(x => (x.getInt(0), x.getString(1)))
      .sortBy(_._1)
    got.sliding(2).foreach {
      case Array((s1, g1), (s2, g2)) =>
        assert(order.indexOf(g1) <= order.indexOf(g2),
          s"segment not monotone: sum $s1 -> $g1 vs sum $s2 -> $g2")
      case _ =>
    }
  }

  test("every generated CSV line lands in exactly one output (conservation)") {
    val lineGen: Gen[String] = for {
      age <- Gen.oneOf(Gen.chooseNum(-5, 120).map(_.toString), Gen.const("xx"))
      bal <- Gen.oneOf(Gen.chooseNum(-1000000, 1000000).map(_.toString),
        Gen.const("n/a"))
      extra <- Gen.oneOf("", ";z")
      dur <- Gen.chooseNum(0, 5000)
    } yield s"$age;job;m;e;no;$bal;yes;no;c;5;may;$dur;2;-1;0;u;no$extra"
    val lines = sample(lineGen, 300)
    val res = BankingPipeline.fromLines(lines.toDF("value"))
    assert(res.processed.count() + res.errors.count() == lines.size)
  }

  test("byte-level python-float scanner agrees with the regex grammar") {
    // The balance coercion's byte scanner replaced a regex
    // (ParseBankLine round-3 hot-path rewrite); this pins equivalence:
    // same accept/reject partition AND same parsed value on accepts,
    // with the CPython grammar replicated here as the referee.
    val D = """\d(?:_?\d)*"""
    val shape = java.util.regex.Pattern.compile(
      s"""[+-]?(?:(?:$D(?:\\.(?:$D)?)?|\\.$D)(?:[eE][+-]?$D)?|(?i:inf(?:inity)?|nan))""")
    def referee(s: String): Option[Double] =
      if (!shape.matcher(s).matches()) None
      else {
        val neg = s.startsWith("-")
        val body = s.dropWhile(c => c == '+' || c == '-').replace("_", "")
        val v = body.toLowerCase match {
          case "inf" | "infinity" => Double.PositiveInfinity
          case "nan" => Double.NaN
          case other => other.toDouble
        }
        Some(if (neg) -v else v)
      }
    val tokGen: Gen[String] = Gen.oneOf(
      // structured near-misses and hits around the grammar
      for {
        sign <- Gen.oneOf("", "+", "-")
        core <- Gen.oneOf("1", "12_34", "1__2", "_1", "1_", ".5", "5.",
          "1.5", ".", "", "inf", "Infinity", "NAN", "nan5", "infx",
          "1.2.3", "0x1p3", "5d", "1e", "7e4", "1_0e1_0", "2E+07",
          "3e-2", "9.e2", ".e2", "1e+", "00_1.50", "n", "i")
      } yield sign + core,
      // unstructured noise
      Gen.listOfN(6, Gen.oneOf(('0' to '9') ++ Seq('.', '_', 'e', 'E',
        '+', '-', 'i', 'n', 'f', 'a', 'y', 'x'))).map(_.mkString))
    val toks = (sample(tokGen, 3000) ++ Seq("inf", "-INFINITY", "nan",
      "1_000.5", "2e308", "-2e308")).distinct
    // The day column doubles as the token index so results join back
    // (age must stay in the valid range or validation eats the row).
    def line(tok: String, id: Int) =
      s"42;job;m;e;no;$tok;yes;no;c;$id;may;300;2;-1;0;u;no"
    val res = BankingPipeline.fromLines(
      toks.zipWithIndex.map { case (t, i) => line(t, i) }.toDF("value"))
    val gotOk = res.processed.select("day", "balance").collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    toks.zipWithIndex.foreach { case (tok, i) =>
      referee(tok) match {
        case None => assert(!gotOk.contains(i), s"accepted bad token '$tok'")
        case Some(v) =>
          assert(gotOk.contains(i), s"rejected good token '$tok'")
          val g = gotOk(i)
          assert(g == v || (g.isNaN && v.isNaN),
            s"value mismatch for '$tok': got $g want $v")
      }
    }
  }

  test("guarded isHeaderLine agrees with the unguarded full-shape regex") {
    val names = graft.schema.BankSchema.inputFields.map(_.name)
    // The rule as it stood before the first-character guard: the oracle.
    def unguarded(line: org.apache.spark.sql.Column) =
      lower(regexp_replace(line, "[\"\\s]", "")) === names.mkString(";")
    val ws = Gen.oneOf(" ", "\t", "\n", "\r", "\u000B", "\f")
    val pad = Gen.frequency(3 -> Gen.const(""), 2 -> ws,
      1 -> Gen.listOfN(3, ws).map(_.mkString), 1 -> Gen.const("\""))
    // Line ends may also carry characters outside `\s`, which neither
    // rule strips.
    val edge = Gen.frequency(6 -> pad,
      1 -> Gen.oneOf("\u00A0", "\uFEFF", "\u2003"))
    def mixCase(s: String): Gen[String] =
      Gen.listOfN(s.length, Gen.oneOf(true, false)).map(up =>
        s.zip(up).map { case (c, u) => if (u) c.toUpper else c }.mkString)
    def padInside(s: String): Gen[String] = for {
      at <- Gen.chooseNum(0, s.length); p <- pad
    } yield s.take(at) + p + s.drop(at)
    val token: String => Gen[String] = name => for {
      cased <- Gen.frequency(2 -> Gen.const(name), 1 -> mixCase(name))
      inner <- Gen.frequency(3 -> Gen.const(cased), 1 -> padInside(cased))
      q <- Gen.oneOf("", "\"")
      before <- pad; after <- pad
    } yield before + q + inner + q + after
    val header: Gen[String] = for {
      toks <- Gen.sequence[List[String], String](names.map(token))
      lead <- edge; trail <- edge
    } yield lead + toks.mkString(";") + trail
    val dataAge: Gen[String] = for {
      rest <- Gen.oneOf("oops;truncated", "job;marital",
        names.tail.map(_ + "x").mkString(";"), "42;admin;married")
      t <- token("age")
    } yield t + ";" + rest
    val nearMiss: Gen[String] = for {
      h <- header; drop <- Gen.chooseNum(0, h.length - 1)
    } yield h.patch(drop, "", 1)
    val lineGen: Gen[String] = Gen.frequency(
      6 -> header, 3 -> nearMiss, 3 -> dataAge,
      1 -> Gen.const(""), 1 -> Gen.listOfN(2, ws).map(_.mkString),
      1 -> Gen.const("42;admin;married;tertiary;no;1500.5;yes;no;cellular;5;may;300;2;-1;0;unknown;no"),
      1 -> edge.flatMap(p => Gen.alphaStr.map(p + _)))
    val lines = sample(lineGen, 800)
    // Interpreted (local relation) and generated-code (RDD scan) paths.
    Seq(lines.toDF("value"), spark.sparkContext.parallelize(lines, 2).toDF("value"))
      .foreach { df =>
        val got = df.select(col("value"),
          BankingPipeline.isHeaderLine(col("value")), unguarded(col("value")))
          .collect().map(r => (r.getString(0), r.getBoolean(1), r.getBoolean(2)))
        got.foreach { case (l, guarded, oracle) =>
          assert(guarded == oracle, s"rules disagree on ${l.map(_.toInt)}")
        }
        // Not vacuous: both outcomes occur often.
        assert(got.count(_._3) > 100 && got.count(!_._3) > 100)
      }
  }

  test("engagement score bounded in [-0.075, 1] on the natural domain") {
    val gen = for {
      p <- Gen.chooseNum(-1, 1000); c <- Gen.chooseNum(0, 1000)
      d <- Gen.chooseNum(0, 100000); y <- Gen.oneOf("yes", "no")
    } yield (p, c, d, y)
    val got = sample(gen, 500).toDF("p", "c", "d", "y")
      .select(BankExprs.engagementScore(col("p"), col("c"), col("d"),
        col("y"))).collect().map(_.getDouble(0))
    got.foreach(v => assert(v >= -0.075 && v <= 1.0, s"out of bounds: $v"))
  }

  test("graft_sorted_inter_count equals size(array_intersect) on sorted arrays") {
    // The two-pointer expression must agree with the builtin's SET
    // semantics for every pair of SORTED long arrays — including
    // duplicates (equal runs count once), empty arrays, and
    // all-overlap/no-overlap extremes. Values drawn from a small domain
    // so collisions and duplicate runs are dense.
    val arrGen = for {
      n <- Gen.chooseNum(0, 40)
      vs <- Gen.listOfN(n, Gen.chooseNum(-20L, 20L))
    } yield vs.sorted
    val pairs = sample(Gen.zip(arrGen, arrGen), 600) ++ Seq(
      (List.empty[Long], List.empty[Long]),
      (List.empty[Long], List(1L, 2L)),
      (List(1L, 1L, 1L), List(1L)),
      (List(1L, 2L, 3L), List(1L, 2L, 3L)),
      (List(Long.MinValue, 0L, Long.MaxValue), List(Long.MinValue, Long.MaxValue)),
      (List(1L, 1L, 2L, 2L, 3L), List(2L, 2L, 4L)))
    val rows = pairs.toDF("a", "b")
      .select(
        graft.functions.SortedIntersect.count(col("a"), col("b")).as("g"),
        size(array_intersect(col("a"), col("b"))).as("ref"),
        col("a"), col("b"))
      .collect()
    rows.foreach { r =>
      assert(r.getInt(0) == r.getInt(1),
        s"graft=${r.getInt(0)} builtin=${r.getInt(1)} for " +
          s"a=${r.getSeq[Long](2)} b=${r.getSeq[Long](3)}")
    }
    // Interpreted path agrees with codegen (nullSafeEval coverage).
    val one = pairs.take(50).toDF("a", "b").repartition(1)
      .select(graft.functions.SortedIntersect.count(col("a"), col("b")))
    assert(one.collect().map(_.getInt(0)).toSeq ==
      pairs.take(50).map { case (a, b) => a.toSet.intersect(b.toSet).size })
    // The array-producing sibling must equal the builtin ELEMENT-WISE:
    // for sorted inputs array_intersect's left-order-of-first-occurrence
    // output IS ascending, so the sequences match exactly.
    val arrRows = pairs.toDF("a", "b")
      .select(
        graft.functions.SortedIntersect.array(col("a"), col("b")).as("g"),
        array_intersect(col("a"), col("b")).as("ref"))
      .collect()
    arrRows.foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1),
        s"graft=${r.getSeq[Long](0)} builtin=${r.getSeq[Long](1)}")
    }
  }

  test("graft_del_variants equals the exploded xxhash64 deletion pipeline") {
    // The one-expression neighborhood must produce EXACTLY the hash SET
    // of the chained-Generate form it replaces — same xxhash64 seed
    // over the same variant bytes, in-row dedup standing in for the
    // old corpus-wide distinct. Random strings include multi-byte
    // UTF-8 (character-position deletions, not byte), empties, and
    // repeated characters (the dedup-sensitive case "aab" -> "ab").
    val strGen = for {
      n <- Gen.chooseNum(0, 12)
      cs <- Gen.listOfN(n, Gen.frequency(
        6 -> Gen.alphaNumChar, 2 -> Gen.const('a'),
        1 -> Gen.oneOf('é', 'ß', '中')))
    } yield cs.mkString
    val names = (sample(strGen, 120) ++
      Seq("", "a", "aa", "aab", "Customer#000000001", "ééé")).distinct
    val df = names.toDF("name")
    val got = df.select(col("name"),
        graft.functions.DeletionVariants.hashesCol(col("name")).as("vhs"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1).toSet).toMap
    // reference: enumerate variants in Scala, hash via the BUILTIN
    // xxhash64 so the seed/byte semantics are Spark's own
    def variants(s: String): Seq[String] = {
      val cs = s.toVector // BMP test data: one Char per character
      val one = cs.indices.map(i => cs.patch(i, Nil, 1).mkString)
      val two = for {
        i <- cs.indices; j <- (i + 1) until cs.length
      } yield cs.patch(j, Nil, 1).patch(i, Nil, 1).mkString
      (s +: (one ++ two)).distinct
    }
    names.foreach { nm =>
      val ref = variants(nm).toDF("v")
        .select(xxhash64(col("v"))).collect().map(_.getLong(0)).toSet
      assert(got(nm) == ref,
        s"'$nm': graft ${got(nm).size} hashes vs builtin ${ref.size}")
    }
  }

  test("graft_minhash_sig equals the explode + graft_minhash aggregate") {
    // The scalar signature must be BIT-identical to the
    // rawShingles -> groupBy(doc_id) -> MinHashAgg pipeline on every
    // text shape split(' ') can produce: multi-byte UTF-8 words,
    // consecutive/leading/trailing spaces (empty words), single-char
    // words, and <3-word documents (no shingles — the aggregate emits
    // no row, the scalar returns NULL and is filtered).
    val wordGen = Gen.frequency(
      5 -> Gen.listOfN(3, Gen.alphaNumChar).map(_.mkString),
      2 -> Gen.listOfN(1, Gen.alphaLowerChar).map(_.mkString),
      1 -> Gen.const(""),
      1 -> Gen.oneOf("é中", "ß", "naïve"))
    val textGen = for {
      n <- Gen.chooseNum(0, 15)
      ws <- Gen.listOfN(n, wordGen)
    } yield ws.mkString(" ")
    val texts = (sample(textGen, 300) ++ Seq(
      "", "one", "one two", "a b c", "  ", "   ", " a b c ",
      "x  y  z", "é中 ß naïve é中")).distinct
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val agg = minhashAggOracle(docs)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val scalar = docs
      .select(col("doc_id"),
        graft.functions.MinHashSig.sigCol(col("text"), 16).as("sig"))
      .where(col("sig").isNotNull)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(scalar.keySet == agg.keySet,
      s"doc sets differ: scalar-only=${scalar.keySet -- agg.keySet} " +
        s"agg-only=${agg.keySet -- scalar.keySet}")
    scalar.foreach { case (id, sig) =>
      assert(sig == agg(id), s"doc $id: scalar=$sig agg=${agg(id)}")
    }
    // Interpreted path agrees with codegen (nullSafeEval coverage).
    val interp = docs.repartition(1)
      .select(col("doc_id"),
        graft.functions.MinHashSig.sigCol(col("text"), 16).as("sig"))
      .where(col("sig").isNotNull)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(interp == scalar)
  }

  test("graft_shingle_hashes equals explode + md5Long60 + distinct") {
    // The per-row hashed-shingle array must reproduce EXACTLY the
    // (doc_id, s) row set of the pipeline it replaces — same word
    // splitting (empty words from repeated/leading/trailing spaces),
    // same 60-bit md5 key (conv(substr(md5, 1, 15), 16, 10)), with
    // within-document dedup standing in for the corpus-wide distinct.
    // The array itself must also be sorted ascending and duplicate-free
    // (the contract graft_sorted_inter* consumers rely on).
    val wordGen = Gen.frequency(
      5 -> Gen.listOfN(3, Gen.alphaNumChar).map(_.mkString),
      2 -> Gen.listOfN(1, Gen.alphaLowerChar).map(_.mkString),
      1 -> Gen.const(""),
      1 -> Gen.oneOf("é中", "ß", "naïve"))
    val textGen = for {
      n <- Gen.chooseNum(0, 15)
      ws <- Gen.listOfN(n, wordGen)
    } yield ws.mkString(" ")
    // "a b c a b c" repeats a shingle — the dedup-sensitive case.
    val texts = (sample(textGen, 300, seed = 7L) ++ Seq(
      "", "one", "one two", "a b c", "a b c a b c", "  ", " a b c ",
      "x x x x", "é中 ß naïve é中 ß naïve")).distinct
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val old = shingleHashOracle(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val arrs = docs
      .select(col("doc_id"),
        graft.functions.ShingleHashes.hashesCol(col("text")).as("hs"))
      .where(col("hs").isNotNull)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1))
    arrs.foreach { case (id, hs) =>
      assert(hs == hs.distinct.sorted, s"doc $id: not sorted-distinct: $hs")
    }
    val flat = arrs.flatMap { case (id, hs) => hs.map(id -> _) }.toSet
    assert(flat == old,
      s"row sets differ: scalar-only=${(flat -- old).take(5)} " +
        s"old-only=${(old -- flat).take(5)}")
  }

  test("sketch entry points match their oracles on a degenerate corpus") {
    // ADVICE r13 found the ONE place where a scalar sketch and its
    // exploded form diverged — on a null text, which the shipped
    // testdata never contains. This pins the shipped DedupOps entry
    // points (including their null-signature filters) against the law
    // oracles on the corpus that would expose that class: null, empty,
    // 1/2/3-word, repeated-word, and unicode texts. Frame equality:
    // same doc_ids, same values.
    val rows = Seq[(Long, String)](
      (1L, null), (2L, ""), (3L, "a"), (4L, "a b"), (5L, "a b c"),
      (6L, "a a a a"), (7L, "naïve café 日本 語 テスト"),
      (8L, "the quick brown fox jumps over the lazy dog"))
    val docs = rows.toDF("doc_id", "text")

    def sigSet(df: DataFrame) = df
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toSet
    val mh = sigSet(graft.ops.DedupOps.docSignatures(docs))
    val mhOracle = sigSet(minhashAggOracle(docs))
    assert(mh == mhOracle,
      s"minhash diverged: shipped=${mh.map(_._1)} " +
        s"oracle=${mhOracle.map(_._1)}")

    def rowSet(df: DataFrame) = df
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    Seq(32, 60).foreach { bits =>
      assert(rowSet(graft.ops.DedupOps.simhashSignatures(docs, bits)) ==
        rowSet(simhashAggOracle(docs, bits)), s"simhash($bits) diverged")
    }

    assert(rowSet(graft.ops.DedupOps.hashedShingles(docs)) ==
      rowSet(shingleHashOracle(docs)), "hashed shingles diverged")
  }

  test("graft_simhash equals the exploded bit-majority aggregate") {
    // The scalar signature must be BIT-identical to explode ->
    // groupBy(doc_id) -> bits-column bit-sum -> strict-majority
    // assembly for BOTH widths (q26's 32, q163's 60), on every split(' ')
    // shape including empty text (one empty word), repeated words (the
    // TF weighting), unicode, and consecutive spaces.
    val wordGen = Gen.frequency(
      5 -> Gen.listOfN(3, Gen.alphaNumChar).map(_.mkString),
      2 -> Gen.const("dup"),
      1 -> Gen.const(""),
      1 -> Gen.oneOf("é中", "ß"))
    val textGen = for {
      n <- Gen.chooseNum(0, 12)
      ws <- Gen.listOfN(n, wordGen)
    } yield ws.mkString(" ")
    val texts = (sample(textGen, 250, seed = 11L) ++ Seq(
      "", "one", "dup dup dup", "a  b", " x ", "é中 é中 ß")).distinct
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    for (bits <- Seq(32, 60)) {
      val agg = simhashAggOracle(docs, bits)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val scalar = docs.select(col("doc_id"),
          graft.functions.SimHashSig.sigCol(col("text"), bits).as("sig"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(scalar == agg, s"bits=$bits: " + scalar.collect {
        case (id, s) if agg(id) != s => s"doc $id scalar=$s agg=${agg(id)}"
      }.take(3).mkString("; "))
    }
  }

  test("the sketch and intersect expressions are SQL-registered") {
    // Every custom expression is reachable from spark.sql, not just the
    // Column API — the SQL surface a reference user would type.
    assert(spark.sql("SELECT graft_sorted_inter_count(array(1L, 2L, 3L), " +
      "array(2L, 3L, 4L))").head().getInt(0) == 2)
    assert(spark.sql("SELECT graft_sorted_inter(array(1L, 2L), array(2L))")
      .head().getSeq[Long](0) == Seq(2L))
    // Two-deletion neighborhood of "ab" = {ab, a, b, ""}: 4 variants.
    assert(spark.sql("SELECT size(graft_del_variants('ab'))")
      .head().getInt(0) == 4)
    assert(spark.sql("SELECT size(graft_minhash_sig('a b c d'))")
      .head().getInt(0) == 16)
    assert(spark.sql("SELECT graft_minhash_sig('a b')").head().get(0) == null)
    assert(spark.sql("SELECT size(graft_shingle_hashes('a b c d'))")
      .head().getInt(0) == 2)
    // SQL simhash equals the Column-API form.
    val viaSql = spark.sql("SELECT graft_simhash('a b c', 32)")
      .head().getLong(0)
    val viaCol = Seq("a b c").toDF("t")
      .select(graft.functions.SimHashSig.sigCol(col("t"), 32))
      .head().getLong(0)
    assert(viaSql == viaCol)
    // Any foldable INT works for bits, not just a bare literal.
    assert(spark.sql("SELECT graft_simhash('a b c', 16 + 16)")
      .head().getLong(0) == viaSql)
    // Non-constant bits is a proper AnalysisException (NON_FOLDABLE_
    // ARGUMENT), not an IllegalArgumentException from the builder.
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT graft_simhash('a', cast(rand() * 32 as int))")
        .collect()
    }
    assert(e.getMessage.contains("graft_simhash"))
    assert(e.getCondition == "NON_FOLDABLE_ARGUMENT")
    // A foldable-but-NULL bits (CAST(NULL AS INT)) IS foldable, so it
    // must get the null-value error class, not the misleading
    // non-foldable one (ADVICE r14 #1).
    val en = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT graft_simhash('a', cast(null as int))").collect()
    }
    assert(en.getCondition == "DATATYPE_MISMATCH.UNEXPECTED_NULL",
      s"null bits raised ${en.getCondition}")
  }
}
