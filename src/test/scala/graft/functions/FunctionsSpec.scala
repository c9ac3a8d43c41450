package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.helium.SparkSuite
import TextFns._
import VectorFns._

class FunctionsSpec extends SparkSuite {
  import spark.implicits._
  DotQ.register(spark)
  HashSketch.register(spark)

  test("native token_hash_seq is bit-identical to the HOF executable spec") {
    // adversarial shapes: multiple/trailing/leading spaces, empty string,
    // non-ASCII multibyte, long docs, single char, tabs (NOT separators)
    val rnd = new scala.util.Random(11)
    val vocab = Seq("alpha", "βeta", "γάμμα", "x", "1234", "a\tb", "émile")
    val docs = Seq("", " ", "  ", "a", " a ", "a  b", "tab\there") ++
      Seq.fill(60)(Seq.fill(1 + rnd.nextInt(80))(
        vocab(rnd.nextInt(vocab.size))).mkString(" " * (1 + rnd.nextInt(2))))
    val df = docs.toDF("text")
      .select(TextFns.tokenHashSeq(col("text")).as("native"),
        TextFns.tokenHashSeqHof(col("text")).as("hof"))
    assert(df.filter(not(col("native") <=> col("hof"))).count() == 0)
    // and on real corpus data
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(TextFns.tokenHashSeq(col("text")).as("native"),
        TextFns.tokenHashSeqHof(col("text")).as("hof"))
    assert(real.filter(not(col("native") <=> col("hof"))).count() == 0)
    // mod = 0 (full 60 bits, seed 999): the d04/d07 hash60Array shape
    val full = docs.toDF("text")
      .select(HashSketch.tokenHashSeq(col("text"), 999, 0L).as("native"),
        hash60Array(tokens(col("text")), 999).as("hof"))
    assert(full.filter(not(col("native") <=> col("hof"))).count() == 0)
  }

  test("DotQ native expression equals the composable HOF form") {
    val rnd = new scala.util.Random(7)
    val rows = Seq.fill(50)((
      Array.fill(64)(rnd.nextInt(20000).toLong - 10000),
      Array.fill(64)(rnd.nextInt(20000).toLong - 10000)))
    val df = rows.toDF("a", "b")
      .select(dotq(col("a"), col("b")).as("native"),
        dotqHof(col("a"), col("b")).as("hof"))
    assert(df.filter(col("native") =!= col("hof")).count() == 0)
    // the native expression is what the analyzer resolved to (the
    // executed plan may constant-fold local input into a LocalTableScan)
    assert(df.queryExecution.analyzed.toString.contains("dotq"))
  }

  test("tokens drop empties; shingles are distinct full-width k-grams") {
    val df = Seq("a b c d ", "a b", "").toDF("text")
      .withColumn("toks", tokens(col("text")))
      .withColumn("sh", shingles(col("text"), 3))
    val rows = df.select("toks", "sh").as[(Seq[String], Seq[String])].collect()
    assert(rows(0) == ((Seq("a", "b", "c", "d"), Seq("a b c", "b c d"))))
    assert(rows(1)._2.isEmpty) // shorter than k
    assert(rows(2)._1.isEmpty)
  }

  test("minhash signature: identical shingle sets share all k values; " +
    "signature is permutation-of-set invariant") {
    val df = Seq("x y z w v", "v w z y x x y z w v", "q r s t u")
      .toDF("text")
      .withColumn("sig",
        minhashFromHashes(hash60Array(shingles(col("text"), 1), 0), 8))
    val sigs = df.select("sig").as[Seq[Long]].collect()
    // doc1 has the same unigram *set* as doc0 => identical signature
    assert(sigs(0) == sigs(1))
    assert(sigs(0) != sigs(2))
    assert(sigs(0).length == 8)
  }

  test("native single-pass sketches are bit-identical to the HOF forms") {
    val docs = Seq("a b c d e f", "x", "", "the quick brown fox the quick",
      "z z z z z z z z").toDF("text")
      .withColumn("hb", hash60Array(tokens(col("text")), 999))
      .withColumn("hs", shingleSetFromHashes(tokenHashSeq(col("text")), 3))
    val rows = docs.select(
      simhashFromHashes(col("hb"), 16).as("sh_hof"),
      HashSketch.simhashBits(col("hb"), 16).as("sh_nat"),
      simhashFromHashes(col("hb"), 48).as("sh48_hof"),
      HashSketch.simhashBits(col("hb"), 48).as("sh48_nat"),
      minhashFromHashes(col("hs"), 12).as("mh_hof"),
      HashSketch.minhashSig(col("hs"), 12).as("mh_nat")).collect()
    rows.foreach { r =>
      assert(r.getLong(0) == r.getLong(1), "simhash16 mismatch")
      assert(r.getLong(2) == r.getLong(3), "simhash48 mismatch")
      assert(r.getSeq[Any](4) == r.getSeq[Any](5), "minhash mismatch")
    }
    val seqRows = docs
      .withColumn("th", tokenHashSeq(col("text")))
      .select(
        shingleSeqFromHashes(col("th"), 3).as("sq_hof"),
        HashSketch.shingleSeq(col("th"), 3).as("sq_nat"),
        winnowing(shingleSeqFromHashes(col("th"), 3), 4).as("wn_hof"),
        HashSketch.winnowSet(HashSketch.shingleSeq(col("th"), 3), 4).as("wn_nat"))
      .collect()
    seqRows.foreach { r =>
      assert(r.getSeq[Any](0) == r.getSeq[Any](1), "shingle_seq mismatch")
      assert(r.getSeq[Any](2) == r.getSeq[Any](3), "winnow_set mismatch")
    }
  }

  test("native lsh_sig is bit-identical to the HOF plane signature") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val dims = 64
    val vecs = Seq.fill(40)(Seq.fill(dims)(rnd.nextLong() % 20000))
      .toDF("qv")
    val allPlanes = VectorFns.lshPlanes(16, dims)
    (0 until 4).foreach { t =>
      val rows = vecs.select(
        VectorFns.lshSignature(col("qv"),
          allPlanes.slice(t * 4, (t + 1) * 4)).as("hof"),
        HashSketch.lshSig(col("qv"), 4, t * 4).as("nat")).collect()
      rows.foreach(r => assert(r.getLong(0) == r.getLong(1),
        s"lsh_sig mismatch in table $t"))
    }
  }

  test("jaccard via array_intersect matches hand computation") {
    val df = Seq(("a b c d", "b c d e")).toDF("t1", "t2")
      .select(shingles(col("t1"), 1).as("s1"), shingles(col("t2"), 1).as("s2"))
      .select(size(array_intersect(col("s1"), col("s2"))).as("i"),
        (size(col("s1")) + size(col("s2"))).as("tot"))
    val (i, tot) = df.as[(Int, Int)].head()
    assert(i == 3 && tot - i == 5) // jaccard 3/5
  }

  test("simhash: near-identical token multisets collide, disjoint ones don't") {
    val df = Seq("a b c d e f g h", "a b c d e f g h", "q r s t u v w x")
      .toDF("text")
      .withColumn("sh",
        simhashFromHashes(hash60Array(tokens(col("text")), 999), 16))
    val sh = df.select("sh").as[Long].collect()
    assert(sh(0) == sh(1))
    assert(sh(0) != sh(2))
    assert(sh.forall(v => v >= 0 && v < (1L << 16)))
  }

  test("winnowing: shared text runs share fingerprints regardless of alignment") {
    val run = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val doc1 = s"one two three $run"
    val doc2 = s"$run nine ten eleven"          // same run, different offset
    val doc3 = "totally different words here about nothing shared at all x y"
    val df = Seq(doc1, doc2, doc3).toDF("text")
      .withColumn("th", tokenHashSeq(col("text")))
      .withColumn("sq", shingleSeqFromHashes(col("th"), 3))
      .withColumn("fps", winnowing(col("sq"), 4))
    val fps = df.select("fps").as[Seq[Long]].collect().map(_.toSet)
    assert((fps(0) & fps(1)).nonEmpty)   // shared run => shared minima
    assert((fps(0) & fps(2)).isEmpty)
    // shorter than window => empty, not error
    val short = Seq("a b").toDF("text")
      .withColumn("th", tokenHashSeq(col("text")))
      .withColumn("sq", shingleSeqFromHashes(col("th"), 3))
      .withColumn("fps", winnowing(col("sq"), 4))
      .select("fps").as[Seq[Long]].head()
    assert(short.isEmpty)
  }

  test("numeric shingle set equals string shingle set cardinality (no collisions on sample)") {
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .withColumn("th", tokenHashSeq(col("text")))
      .withColumn("hs", shingleSetFromHashes(col("th"), 3))
      .withColumn("ss", shingles(col("text"), 3))
      .select(size(col("hs")).as("a"), size(col("ss")).as("b"))
    assert(df.filter(col("a") =!= col("b")).count() == 0)
  }

  test("fingerprint normalizes case/punctuation/whitespace") {
    val df = Seq("Hello,  World!", "hello world", "other text")
      .toDF("text").withColumn("fp", fingerprint(col("text")))
    val fp = df.select("fp").as[String].collect()
    assert(fp(0) == fp(1))
    assert(fp(0) != fp(2))
  }

  test("quantized cosine of identical vectors is 1.0; orthogonal is 0.0") {
    val df = Seq(
      (Array(0.5f, 0.25f, -0.125f), Array(0.5f, 0.25f, -0.125f)),
      (Array(1.0f, 0.0f, 0.0f), Array(0.0f, 1.0f, 0.0f)))
      .toDF("a", "b")
      .select(qvec(col("a")).as("qa"), qvec(col("b")).as("qb"))
      .select(cosineQ(dotq(col("qa"), col("qb")),
        norm2q(col("qa")), norm2q(col("qb"))).as("cos"))
    val cos = df.as[Double].collect()
    assert(math.abs(cos(0) - 1.0) < 1e-12) // sqrt(n)*sqrt(n) != n exactly
    assert(cos(1) == 0.0)
  }

  test("lsh planes are ±1 and deterministic; equal vectors share signatures") {
    val p1 = lshPlanes(8, 64)
    val p2 = lshPlanes(8, 64)
    assert(p1.map(_.toSeq).toSeq == p2.map(_.toSeq).toSeq)
    assert(p1.flatten.forall(v => v == 1 || v == -1))
    // not all-same (would mean a degenerate hash)
    assert(p1.flatten.toSet == Set(1, -1))

    val v = Array.tabulate(64)(i => (i % 7 - 3) / 10.0f)
    val df = Seq((v, v)).toDF("a", "b")
      .select(lshSignature(qvec(col("a")), p1).as("sa"),
        lshSignature(qvec(col("b")), p1).as("sb"))
    val (sa, sb) = df.as[(Long, Long)].head()
    assert(sa == sb && sa >= 0 && sa < 256)
  }

  test("hash60 is non-negative, < 2^60, seed-sensitive") {
    val df = Seq("abc", "abd").toDF("s")
      .select(Portable.hash60(col("s"), 0).as("h0"),
        Portable.hash60(col("s"), 1).as("h1"))
    val rows = df.as[(Long, Long)].collect()
    rows.foreach { case (h0, h1) =>
      assert(h0 >= 0 && h0 < (1L << 60))
      assert(h0 != h1)
    }
    assert(rows(0)._1 != rows(1)._1)
  }

  test("a second register replaces no registered function") {
    val registry = spark.sessionState.functionRegistry
    def infos() = FunctionDefs.all.map { case (name, _) =>
      registry.lookupFunction(
        org.apache.spark.sql.catalyst.FunctionIdentifier(name)).get
    }
    val before = infos()
    HashSketch.register(spark)
    DotQ.register(spark)
    // a replacement registers a fresh ExpressionInfo under the name
    infos().zip(before).zip(FunctionDefs.all.map(_._1)).foreach {
      case ((after, was), name) => assert(after eq was, s"$name was replaced")
    }
  }
}
