package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{NativeTextOps, TextKernel, TextOps}

/** TextKernel ⇔ Column-algebra equivalence: the one-pass natives that
  * replaced the regex/HOF hot paths of the curation family (q31/q45/q46/
  * q47/q64/q99/q217) must be EXACTLY the declarative semantics — the
  * DuckDB oracle rows are generated from those semantics. Property-tested
  * over adversarial strings: whitespace runs (incl. \x0B vs trim's
  * space-only contract), leading/trailing separators (Java split's empty
  * tokens), casing edge cases (İ expands under ROOT lower), CJK, and
  * supplementary-plane code points.
  */
class TextKernelSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  // Deterministic adversarial generator (seeded; no framework needed):
  // compositions of stopword-ish tokens, whitespace runs, punctuation,
  // non-ASCII casing/CJK/supplementary fragments, glued with and without
  // separators, with leading/trailing separators mixed in.
  private val fragments = Vector(
    "the", "a", "of", "and", "to", "in", "is", "The", "AND", "OF", "thee",
    "andy", "a1", "xx", " ", "  ", "\t", "\n", "\f", "\r", "", "!",
    "##", "...", "\u4e2d\u6587", "\u0130", "\u212aK", "\u00e9", "\u00df", "\ud835\udd4f",
    "0", "42x", "x-y.z", "quickbrown", "A9", ".", ",the", "the.")
  private def genTexts(n: Int): Seq[String] = {
    val rnd = new java.util.Random(20260816L)
    (0 until n).map { _ =>
      val parts = (0 until rnd.nextInt(12)).map(_ => fragments(rnd.nextInt(fragments.size)))
      val glue = rnd.nextInt(3) match {
        case 0 => parts.mkString("")
        case 1 => parts.mkString(" ")
        case _ => parts.mkString(if (rnd.nextBoolean()) "\t" else "  ")
      }
      rnd.nextInt(5) match {
        case 0 => " " + glue
        case 1 => glue + " "
        case 2 => "\t" + glue + "\n"
        case _ => glue
      }
    }
  }

  /** The pre-kernel declarative forms, verbatim (the oracle semantics). */
  private def refFrame(texts: Seq[String]) = {
    val ws = TextOps.words(col("text"))
    val stopArr = array(Seq("the", "a", "of", "and", "to", "in", "is").map(lit): _*)
    val markers = array(Seq("the", "and", "a", "of").map(lit): _*)
    texts.toDF("text").select(
      TextOps.normalizedRef(col("text")).as("norm"),
      length(col("text")).cast(LongType).as("n_chars"),
      size(ws).cast(LongType).as("n_words"),
      length(regexp_replace(col("text"), "[A-Za-z0-9\\s]", "")).cast(LongType).as("n_punct"),
      size(filter(ws, w => array_contains(stopArr, w))).cast(LongType).as("n_stop"),
      size(filter(ws, w => array_contains(markers, w))).cast(LongType).as("n_en"),
      aggregate(transform(ws, w => length(w).cast(LongType)), lit(0L), (a, x) => a + x)
        .as("sum_word_len"),
      col("text").rlike("[\\x{4e00}-\\x{9fff}]").as("has_cjk"),
      regexp_count(col("text"), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"))
        .cast(LongType).as("n_bpe"))
  }

  private def kernelFrame(texts: Seq[String]) = {
    val tf = NativeTextOps.textFeatures(col("text"))
    texts.toDF("text").select(
      NativeTextOps.normalizedText(col("text")).as("norm"),
      tf.getField("n_chars").as("n_chars"),
      tf.getField("n_words").as("n_words"),
      tf.getField("n_punct").as("n_punct"),
      tf.getField("n_stop").as("n_stop"),
      tf.getField("n_en").as("n_en"),
      tf.getField("sum_word_len").as("sum_word_len"),
      tf.getField("has_cjk").as("has_cjk"),
      NativeTextOps.bpeCount(col("text")).as("n_bpe"))
  }

  private def assertSame(texts: Seq[String]): Unit = {
    val ref = refFrame(texts).collect()
    val got = kernelFrame(texts).collect()
    texts.indices.foreach { i =>
      assert(got(i) == ref(i), s"text=[${texts(i)}] kernel=${got(i)} ref=${ref(i)}")
    }
  }

  test("kernel == declarative reference on pinned edge cases") {
    assertSame(Seq(
      "", " ", "   ", "\t", "\n\n", " \t ", "a", " a ", "a  b", "a\tb",
      "\tx y ", "x\n", "the a of and to in is", "THE And OF",
      "the  the", "a!b", "a ! b", "a !! b !", "...", "#a#1#",
      "中文 the 漢字", "İstanbul the", "K the", "é à ü", "𝕏 x 𝕏",
      "ab", "t\fq", "42 4a2 aa44", "  the\t\tof  ",
      "mixed 中EN文 text", "ß sharp", " nbsp the"))
  }

  test("kernel == declarative reference (1000 seeded adversarial strings)") {
    assertSame(genTexts(1000).distinct)
  }

  test("shingleHashes == xxhash64 over materialized shingle strings") {
    val texts = (genTexts(400) ++ Seq(
      "", " ", "a", "a b", "a b c", "a b c d", "\ta b c ", "the  the the",
      "中文 one two three 漢字", "İ a b c", "a\tb\nc d", "x ! y ? z")).distinct
    val ref = texts.toDF("text")
      .withColumn("ws", TextOps.words(col("text")))
      .select(transform(TextOps.shingles3("ws"), s => xxhash64(s)).as("h"))
      .collect().map(_.getSeq[Long](0))
    val got = texts.toDF("text")
      .select(NativeTextOps.shingleHashes(col("text")).as("h"))
      .collect().map(_.getSeq[Long](0))
    texts.indices.foreach { i =>
      assert(got(i) == ref(i), s"text=[${texts(i)}] kernel=${got(i)} ref=${ref(i)}")
    }
  }

  test("md5Hash32 digest-direct == conv(substring(md5)) reference") {
    val texts = (genTexts(300) ++ Seq("", "a", "the quick", "中文", "42", "𝕏")).distinct
    val both = texts.toDF("text").select(
      graft.functions.ScalarOps.md5Hash32(col("text")).as("native"),
      graft.functions.ScalarOps.md5Hash32Ref(col("text")).as("ref"))
      .collect()
    both.zip(texts).foreach { case (r, t) =>
      assert(r.getLong(0) == r.getLong(1), s"text=[$t] native=${r.getLong(0)} ref=${r.getLong(1)}")
    }
  }

  test("kernel natives survive whole-stage codegen and constant input") {
    val df = Seq(("the quick brown fox", 1)).toDF("text", "one")
      .select(NativeTextOps.textFeatures(col("text")).getField("n_words").as("w"),
        NativeTextOps.normalizedText(lit("  A!  b  ")).as("n"))
    val row = df.head
    assert(row.getLong(0) == 4L)
    assert(row.getString(1) == "a b")
  }

  test("TextKernel.normalize direct: strip-then-collapse ordering") {
    import org.apache.spark.unsafe.types.UTF8String.{fromString => u}
    assert(TextKernel.normalize(u("a ! b")).toString == "a b")
    assert(TextKernel.normalize(u("a!b")).toString == "ab")
    assert(TextKernel.normalize(u("  Ab C9  ")).toString == "ab c9")
    assert(TextKernel.normalize(u("a\tb")).toString == "ab") // tab stripped, not a space
    assert(TextKernel.normalize(u("")).toString == "")
    assert(TextKernel.normalize(u("!!!")).toString == "")
  }

  test("charClassSig L1 bound is a lossless edit-distance pre-filter (seeded pairs)") {
    // the count-filter invariant q137 relies on: L1(sig(a), sig(b)) <=
    // 2 * levenshtein(a, b) for EVERY pair — so filtering pairs with
    // L1 > 2*maxDist can never drop a true <=maxDist pair
    val texts = (genTexts(120) ++ Seq("", "a", "ab", "ba", "中文 text", "UPPER lower 42")).distinct
    val rng = new scala.util.Random(1213)
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    def sig(t: String): Array[Long] = {
      import org.apache.spark.unsafe.types.UTF8String
      val ad = TextKernel.charClassSig(UTF8String.fromString(t))
      ad.toLongArray()
    }
    def l1(x: Array[Long], y: Array[Long]): Long =
      (0 until 4).flatMap(w => (0 until 8).map(j =>
        math.abs(((x(w) >> (j * 8)) & 0xFF) - ((y(w) >> (j * 8)) & 0xFF)))).sum
    // random pairs + mutated near-pairs (the case the filter must keep)
    val pairs = (1 to 200).map(_ => (texts(rng.nextInt(texts.length)), texts(rng.nextInt(texts.length)))) ++
      texts.filter(_.length > 3).take(40).map { t =>
        val i = rng.nextInt(t.length)
        (t, t.substring(0, i) + "x" + t.substring(math.min(i + 1, t.length))) // 1 sub-ish edit
      }
    pairs.foreach { case (a, b) =>
      // surrogate pairs break the naive char-grain lev; restrict to BMP-safe
      if (!a.exists(Character.isSurrogate) && !b.exists(Character.isSurrogate)) {
        val d = lev(a, b)
        val bound = l1(sig(a), sig(b))
        assert(bound <= 2L * d, s"a=[$a] b=[$b] lev=$d but sigL1=$bound > ${2 * d}")
      }
    }
  }

  test("sigL1 Column expression == scalar L1 on the packed signatures") {
    val texts = genTexts(60).filter(_.nonEmpty)
    val df = texts.zip(texts.reverse).toDF("a", "b")
      .select(NativeTextOps.sigL1(
        NativeTextOps.charClassSig(col("a")),
        NativeTextOps.charClassSig(col("b"))).as("l1"),
        col("a"), col("b"))
    df.collect().foreach { r =>
      import org.apache.spark.unsafe.types.UTF8String
      def arr(t: String) = TextKernel.charClassSig(UTF8String.fromString(t)).toLongArray()
      val (x, y) = (arr(r.getString(1)), arr(r.getString(2)))
      val want = (0 until 4).flatMap(w => (0 until 8).map(j =>
        math.abs(((x(w) >> (j * 8)) & 0xFF) - ((y(w) >> (j * 8)) & 0xFF)))).sum
      assert(r.getLong(0) == want)
    }
  }

  test("piiRedact kernel == regexp_* composition (seeded adversarial PII strings)") {
    // fragments stress every matcher edge: boundary-glued digits (the
    // \\b cases), >3-digit octets, multi-@ locals, domains with trailing
    // junk, dots everywhere, matches created ONLY by sequential
    // replacement ("a@b.com1.2.3.4"), non-ASCII neighbors, string ends
    val piiFrags = Vector(
      "user@mail.com", "a@b.co", "a@b.c", "x@y.comm.de", "a@b.com1.2.3.4",
      "1.2.3.4", "10.0.0.1", "999.999.999.999", "1234.5.6.7", "1.2.3.456789",
      "1.2.3.4.5", "555-123-4567", "x555-123-4567", "555-123-45678",
      "55-123-4567", "a@@b.com", "a@..com", "@nope.com", "no@domain",
      "tel 555-000-0000.", "ip:8.8.8.8,", "a.b@c-d.org!", "%+-._@ok.net",
      "mail@-x.io", "m@x.c-", "1.2.3.4@x.com 5.6.7.8", "中文8.8.8.8中文",
      " end@s.tr", "42", ".", "@", "-", "a@b.cd.ef", "A@B.CO2", "x@y.z12ab.fr")
    val rnd = new java.util.Random(91L)
    val glue = Vector("", " ", "  ", "x", "5", "_", ">", "\n", "中")
    val texts = (0 until 400).map { _ =>
      (0 until rnd.nextInt(6)).map { _ =>
        val pool = if (rnd.nextBoolean()) piiFrags else fragments
        pool(rnd.nextInt(pool.size))
      }.mkString(glue(rnd.nextInt(glue.size)))
    }.distinct ++ piiFrags
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val native = graft.operators.TextAnalysis.redactPii(df).orderBy("doc_id").collect()
    val ref = graft.operators.TextAnalysis.redactPiiDeclarative(df).orderBy("doc_id").collect()
    native.zip(ref).zip(texts).foreach { case ((n, r), t) =>
      assert(n == r, s"text=[$t]\n  native=$n\n  ref   =$r")
    }
  }
}
