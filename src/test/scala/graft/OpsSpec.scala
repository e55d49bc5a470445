package graft

import org.apache.spark.sql.functions._
import graft.ops.{DedupOps, SimilarityOps}

/** Dedup + similarity operator semantics on hand-built frames. */
class OpsSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) =
    rows.toDF("doc_id", "text")

  test("shingles: distinct word 3-grams") {
    val sh = DedupOps.shingles(docs((1L, "a b c d"), (2L, "a b")))
      .as[(Long, String)].collect().toSet
    assert(sh == Set((1L, "a b c"), (1L, "b c d"))) // doc 2 too short
  }

  test("minhash signatures identical for identical shingle sets") {
    val sig = DedupOps.docSignatures(docs(
      (1L, "a b c d e"), (2L, "a b c d e"), (3L, "x y z w v")))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sig(1L) == sig(2L))
    assert(sig(1L) != sig(3L))
  }

  test("cosine: identity 1.0, orthogonal 0.0, exact doubles") {
    val df = Seq(
      (Array(1.0, 0.0), Array(1.0, 0.0)),
      (Array(1.0, 0.0), Array(0.0, 2.0)),
      (Array(3.0, 4.0), Array(3.0, 4.0))
    ).toDF("a", "b")
    def nrm(c: org.apache.spark.sql.Column) =
      sqrt(aggregate(transform(c, x => x * x), lit(0.0), (s, x) => s + x))
    val got = df.select(SimilarityOps.cosine(col("a"), col("b"),
      nrm(col("a")), nrm(col("b")))).collect().map(_.getDouble(0)).toSeq
    assert(got == Seq(1.0, 0.0, 1.0))
  }

  test("jaccard pair query agrees with hand computation") {
    docs(
      (1L, "a b c d e f"),   // shingles: abc bcd cde def (4)
      (2L, "a b c d x y"),   // shingles: abc bcd cdx dxy (4) -> inter 2
      (3L, "p q r s t u")
    ).createOrReplaceTempView("t")
    val sh = DedupOps.shingles(spark.table("t"))
    val cnt = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val pairs = sh.as("a").join(sh.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("inter"))
      .join(cnt.as("ca"), col("d1") === col("ca.doc_id"))
      .join(cnt.as("cb"), col("d2") === col("cb.doc_id"))
      .select(col("d1"), col("d2"),
        (col("inter") * lit(1.0) / (col("ca.n") + col("cb.n") - col("inter")))
          .as("j"))
      .collect()
    assert(pairs.length == 1)
    assert(pairs.head.getLong(0) == 1L && pairs.head.getLong(1) == 2L)
    assert(pairs.head.getDouble(2) == 2.0 / 6.0)
  }

  test("simhash: identical docs get identical signatures") {
    Seq((1L, "spark fast table scan"), (2L, "spark fast table scan"),
      (3L, "completely different words here"))
      .toDF("doc_id", "text").createOrReplaceTempView("sh_docs")
    val q = graft.SparkEntry.queries("q26_simhash")
    // run the registered query shape against a temp-hosted frame instead:
    val wordHash = spark.table("sh_docs")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .select(col("doc_id"), xxhash64(col("w")).as("h"))
    val sums = wordHash.groupBy("doc_id").agg(
      sum(when(col("h").bitwiseAND(1L) === 1L, 1).otherwise(-1)).as("b0"))
    val m = sums.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(1L) == m(2L))
  }

  test("minhash md5 pre-hash equals DuckDB's ('0x' || substr(md5(s),1,8))::BIGINT") {
    import org.apache.spark.unsafe.types.UTF8String
    // md5('hello') = 5d41402a... -> 0x5d41402a = 1564557354 (verified duckdb)
    assert(graft.functions.MinHashAgg.md5Head32(
      UTF8String.fromString("hello")) == 1564557354L)
  }

  test("connected components: chains, singleton edges, and min labels") {
    // graph: 1-2, 2-3 (chain), 10-11, and 20-21 given reversed
    val pairs = Seq((2L, 1L), (2L, 3L), (10L, 11L), (21L, 20L))
      .toDF("d1", "d2")
    val got = DedupOps.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("connected components: long path converges (pointer jumping)") {
    // path 0-1-2-...-19 labeled adversarially (min at one end)
    val pairs = (0L until 19L).map(i => (i + 1, i)).toDF("d1", "d2")
    val got = DedupOps.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 20 && got.values.forall(_ == 0L))
  }

  test("graft_dot is registered as a SQL function via GraftExtensions") {
    val got = spark.sql(
      "SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
      .head().getDouble(0)
    assert(got == 11.0)
  }

  test("graft_dot rejects wrong input types with a clear message") {
    val e = intercept[Exception] {
      spark.sql("SELECT graft_dot(array('a'), array('b'))").collect()
    }
    assert(e.getMessage.contains("ARRAY<DOUBLE>"))
  }

  test("csv tokenizer matches python csv.reader on edge cases") {
    import graft.functions.CsvTokenize
    import org.apache.spark.unsafe.types.UTF8String
    def tok(line: String): Seq[String] =
      CsvTokenize.tokenize(UTF8String.fromString(line)).toObjectArray(
        org.apache.spark.sql.types.StringType).map(_.toString).toSeq
    assert(tok("a;b;c") == Seq("a", "b", "c"))
    assert(tok("a;;c") == Seq("a", "", "c"))          // empty stays ""
    assert(tok("a;b;") == Seq("a", "b", ""))          // trailing empty
    assert(tok("") == Seq(""))
    assert(tok("\"a;b\";c") == Seq("a;b", "c"))       // quoted separator
    assert(tok("\"a\"\"b\";c") == Seq("a\"b", "c"))   // "" escape
    assert(tok("a\"b;c") == Seq("a\"b", "c"))         // quote mid-field literal
    assert(tok("\"ab\"cd;e") == Seq("abcd", "e"))     // text after closing quote
  }
}
