package graft

import graft.functions.NativeFunctions
import graft.operators.{SimilarityOps, TextOps}
import org.apache.spark.sql.functions._

/** Native codegen kernels must be value-IDENTICAL to their interpreted
  * lambda twins (the oracle SQL mirrors the lambda formulation). */
class NativeExprSpec extends SparkSpec {

  val dir = "/root/testdata/sf0.001"

  test("weak_hash kernel == lambda formulation on all corpus tokens") {
    val toks = spark.read.parquet(s"$dir/documents.parquet")
      .select(explode(split(col("text"), " ")).as("t"))
    val diff = toks
      .select(NativeFunctions.weak_hash(col("t")).as("k"),
        References.weakHashLambda(col("t")).as("l"))
      .filter(col("k") =!= col("l")).count()
    assert(diff === 0)
  }

  test("weak_hash edge cases: empty, single char, unicode-free parity") {
    import spark.implicits._
    val rows = Seq("", "a", "ab", " ", "123", "zz top").toDF("t")
      .select(col("t"), NativeFunctions.weak_hash(col("t")).as("k"),
        References.weakHashLambda(col("t")).as("l"))
      .collect()
    rows.foreach(r => assert(r.getLong(1) === r.getLong(2), r.getString(0)))
  }

  test("dot kernel == lambda fold on all embedding pairs (bit-identical)") {
    val e = spark.read.parquet(s"$dir/embeddings.parquet").limit(50)
    val pairs = e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
    val diff = pairs.select(
        NativeFunctions.dot_ff(col("a.embedding"), col("b.embedding")).as("k"),
        References.dotLambda(col("a.embedding"), col("b.embedding")).as("l"))
      .filter(col("k") =!= col("l")).count() // exact double equality
    assert(diff === 0)
  }

  test("shingles kernel == HOF chain on the whole corpus") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val diff = docs.select(
        TextOps.shingles(col("text")).as("k"),
        References.shinglesLambda(col("text")).as("l"))
      .filter(col("k") =!= col("l")).count()
    assert(diff === 0)
    // edge cases: <3 words, exactly 3 words, duplicate shingles
    import spark.implicits._
    val edges = Seq("a b", "a b c", "x y x y x y x y").toDF("text")
      .select(TextOps.shingles(col("text")).as("k"),
        References.shinglesLambda(col("text")).as("l"))
      .collect()
    edges.foreach(r => assert(r.getSeq[String](0) === r.getSeq[String](1)))
  }

  test("bigrams kernel == HOF chain on the whole corpus") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val diff = docs.filter(col("text").isNotNull).select(
        TextOps.bigrams(col("text")).as("k"),
        References.bigramsLambda(col("text")).as("l"))
      .filter(col("k") =!= col("l")).count()
    assert(diff === 0)
    // edge cases: 0/1/2 tokens, repeats (non-distinct), empty tokens from
    // a double space (split keeps them; the window joiner must too)
    import spark.implicits._
    val edges = Seq("", "a", "a b", "a b c", "a  b", "x y x y").toDF("text")
      .select(TextOps.bigrams(col("text")).as("k"),
        References.bigramsLambda(col("text")).as("l"))
      .collect()
    edges.foreach(r => assert(r.getSeq[String](0) === r.getSeq[String](1)))
    // null text: kernel yields NULL, twin yields [] — every consumer
    // explodes, where both produce zero rows
    val nulls = Seq[Option[String]](None).toDF("text")
    assert(nulls.select(explode(TextOps.bigrams(col("text")))).count() === 0)
    assert(nulls.select(explode(References.bigramsLambda(col("text")))).count() === 0)
  }

  test("nfc kernel: composes decomposed accents, identity on ASCII/composed") {
    import spark.implicits._
    // "é" decomposed (e + COMBINING ACUTE) vs precomposed U+00E9
    val decomposed = "café"
    val composed = "café"
    val rows = Seq(decomposed, composed, "plain ascii", "",
        "mixed Å and Å") // Å decomposed vs precomposed
      .toDF("t")
      .select(col("t"), NativeFunctions.nfc_norm(col("t")).as("n"))
      .collect()
    val got = rows.map(r => (r.getString(0), r.getString(1))).toMap
    assert(got(decomposed) === composed)           // canonical composition
    assert(got(composed) === composed)             // already-NFC identity
    assert(got("plain ascii") === "plain ascii")   // ASCII fast path
    assert(got("") === "")
    assert(got("mixed Å and Å") === "mixed Å and Å")
    // java.text.Normalizer is the semantic ground truth
    rows.foreach(r => assert(r.getString(1) ===
      java.text.Normalizer.normalize(r.getString(0),
        java.text.Normalizer.Form.NFC)))
  }

  test("text_repetition: hand-computed repetition fractions") {
    import spark.implicits._
    // "a b a b a b": bigrams = [a b, b a, a b, b a, a b] -> mx=3, n2=5
    //   top2_bp = floor(10000*3/5) = 6000
    //   3-grams: 4 occurrences, distinct {a b a, b a b} = 2 -> dup3_bp =
    //   floor(10000*(4-2)/4) = 5000
    val out = graft.operators.TextOps.textRepetition(spark,
      "/root/testdata/sf0.001") // touch the real table path shape first
    assert(out.columns.toSeq === Seq("doc_id", "top2_bp", "dup3_bp"))
    val custom = Seq((1L, "a b a b a b"), (2L, "x y"), (3L, "p q r s"))
      .toDF("doc_id", "text")
    val got = graft.operators.TextOps.textRepetitionOf(custom)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got(1L) === ((6000L, 5000L)))
    // "x y": one bigram (mx=1, n2=1 -> 10000), no 3-grams -> dup3 0
    assert(got(2L) === ((10000L, 0L)))
    // "p q r s": 3 distinct bigrams -> floor(10000/3)=3333; 2 distinct
    // 3-grams of 2 occurrences -> dup3 0
    assert(got(3L) === ((3333L, 0L)))
  }

  test("sequence packing: randomized docs — contiguous spans, correct bins") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val docs = (0 until 200).map { i =>
      val n = 1 + rnd.nextInt(40)
      (i.toLong, Seq.fill(n)("w" + rnd.nextInt(9)).mkString(" "))
    }
    val got = graft.operators.TextOps
      .packSequencesOf(docs.toDF("doc_id", "text"), seqLen = 64, nShards = 4)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))).toMap
    // brute-force twin: per shard, fold doc_id-ordered token counts
    val expected = docs.groupBy(_._1 % 4).flatMap { case (shard, ds) =>
      var off = 0L
      ds.sortBy(_._1).map { case (id, text) =>
        val n = text.split(" ", -1).length.toLong
        val row = (id, (shard, off, off + n, off / 64))
        off += n
        row
      }
    }
    assert(got === expected)
    // spans within a shard are contiguous and non-overlapping by
    // construction of the fold; assert the spark side agrees per shard
    got.values.groupBy(_._1).foreach { case (_, spans) =>
      val sorted = spans.toSeq.sortBy(_._2)
      sorted.sliding(2).foreach {
        case Seq((_, _, e1, _), (_, s2, _, _)) => assert(e1 === s2)
        case _ => ()
      }
    }
  }

  test("repetition scoring: randomized docs match a brute-force twin") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val docs = (0 until 150).map { i =>
      val n = 2 + rnd.nextInt(30)
      (i.toLong, Seq.fill(n)("t" + rnd.nextInt(4)).mkString(" "))
    }
    val got = graft.operators.TextOps
      .textRepetitionOf(docs.toDF("doc_id", "text"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val expected = docs.map { case (id, text) =>
      val w = text.split(" ", -1)
      val bigrams = w.sliding(2).map(_.mkString(" ")).toSeq
      val top2 = math.floor(10000.0 * bigrams.groupBy(identity)
        .values.map(_.size).max / bigrams.size).toLong
      val tri = w.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSeq
      val dup3 = if (tri.nonEmpty)
        math.floor(10000.0 * (tri.size - tri.distinct.size) / tri.size).toLong
      else 0L
      id -> ((top2, dup3))
    }.toMap
    assert(got === expected)
  }

  test("pii redaction scrubs emails and digit runs, leaves the rest") {
    import spark.implicits._
    val df = Seq(
      "contact bob.smith+spam@example.co.uk or call 5551234567 now",
      "short 123 stays but 1234 goes",
      "no pii here").toDF("text")
      .select(
        regexp_replace(
          regexp_replace(col("text"),
            "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
          "[0-9]{4,}", "<NUM>").as("red"))
      .collect().map(_.getString(0))
    assert(df(0) === "contact <EMAIL> or call <NUM> now")
    assert(df(1) === "short 123 stays but <NUM> goes")
    assert(df(2) === "no pii here")
  }

  test("int8 quantization round-trips within one scale step") {
    val q = SimilarityOps.quantizeEmbeddings(spark, dir)
    val joined = q.join(
        spark.read.parquet(s"$dir/embeddings.parquet"), Seq("vec_id"))
      .select(col("vec_id"), col("qvec"), col("scale"), col("embedding"))
      .collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      val qv = r.getSeq[Long](1)
      val scale = r.getDouble(2)
      val orig = r.getSeq[Float](3)
      assert(qv.length === orig.length)
      assert(qv.forall(v => v >= -127 && v <= 127), r.getLong(0))
      // dequantized component within half a quantization step
      qv.zip(orig).foreach { case (v, o) =>
        assert(math.abs(v * scale - o) <= scale / 2 + 1e-9,
          s"vec ${r.getLong(0)}: $v*$scale vs $o")
      }
    }
  }

  test("SQL registration: graft_weak_hash and graft_dot usable from spark.sql") {
    val r = spark.sql("SELECT graft_weak_hash('abc') AS h").collect().head.getLong(0)
    val expected = 7L * 3 + 31L * 'a' + 17L * 'c' + ('a' + 'b' + 'c')
    assert(r === expected)
    spark.read.parquet(s"$dir/embeddings.parquet").limit(2)
      .createOrReplaceTempView("emb2")
    val d = spark.sql(
      "SELECT graft_dot(a.embedding, b.embedding) AS d FROM emb2 a, emb2 b " +
        "WHERE a.vec_id < b.vec_id").collect()
    assert(d.nonEmpty && !d.head.isNullAt(0))
  }

  test("SQL registration: the per-doc artifact kernels usable from spark.sql") {
    // simhash over a 1-token doc: sign per bit of ((a·hv+b) mod M)·2 > M
    val sig = spark.sql(
      "SELECT graft_simhash_sig(split('abc', ' ')) AS s").collect().head.getLong(0)
    val hv = 7L * 3 + 31L * 'a' + 17L * 'c' + ('a' + 'b' + 'c')
    val M = 1000003L
    val expected = (0 until 60).map { j =>
      val a = 104729L * (j + 1) % M; val b = 15485863L * (j + 7) % M
      if (((a * hv + b) % M) * 2 > M) 1L << j else 0L
    }.sum
    assert(sig === expected)
    // window hashes: md5 of the join of each k-window
    val wh = spark.sql(
      "SELECT graft_window_hashes(split('a b c', ' '), 2) AS w")
      .collect().head.getSeq[String](0)
    assert(wh.length === 2 && wh.forall(_.length == 32))
    // cdc chunk keys over a short doc: non-empty, 32-hex keys
    val ck = spark.sql(
      "SELECT graft_cdc_chunk_keys(split('a b c d e f', ' '), 4, 16) AS c")
      .collect().head.getSeq[String](0)
    assert(ck.nonEmpty && ck.forall(_.length == 32))
    // non-literal parameter must fail loudly, not mis-plan
    val err = intercept[Exception] {
      spark.sql("SELECT graft_window_hashes(split('a b', ' '), length('xx'))")
        .collect()
    }
    assert(err.getMessage.contains("integer literal") ||
      err.getMessage.contains("graft_window_hashes"))
    // a >32-bit literal for an Int parameter must error, not wrap to 0
    val err2 = intercept[Exception] {
      spark.sql(
        "SELECT graft_cdc_chunk_keys(split('a b c d e', ' '), 4294967296, 16)")
        .collect()
    }
    assert(err2.getMessage.contains("32-bit") ||
      err2.getMessage.contains("graft_cdc_chunk_keys"))
  }

  test("artifact kernels: null array elements follow concat_ws / twin semantics, no NPE") {
    // null tokens are SKIPPED by concat_ws, so the window string of
    // ('a', NULL, 'b') at k=3 is 'a b' — assert equality against the
    // built-in derivation rather than a hand-computed constant
    val r = spark.sql(
      "SELECT graft_window_hashes(array('a', cast(null as string), 'b'), 3) AS w, " +
        "md5(cast(concat_ws(' ', 'a', cast(null as string), 'b') AS binary)) AS e")
      .collect().head
    assert(r.getSeq[String](0) === Seq(r.getString(1)))
    // cdc over null-bearing arrays must not throw either
    val ck = spark.sql(
      "SELECT graft_cdc_chunk_keys(array('a', cast(null as string), 'b', 'c'), 4, 16) AS c")
      .collect().head.getSeq[String](0)
    assert(ck.forall(_.length == 32))
    // simhash: a null token contributes -1 to every bit sum (the
    // relational twin's when(NULL).otherwise(-1)) — pinned by equality
    // with an independent driver-side replay of the projection math
    // INCLUDING the null contribution (the previous >= 0 assertion was
    // vacuous — signatures are always non-negative at nBits <= 60)
    import spark.implicits._
    val docs = Seq((1L, "x y"), (2L, "x")).toDF("doc_id", "text")
    val withNulls = docs.select(col("doc_id"),
      array(col("text"), lit(null).cast("string"), lit("z")).as("toks"))
    withNulls.createOrReplaceTempView("nulltoks")
    val viaSql = spark.sql(
      "SELECT doc_id, graft_simhash_sig(toks) AS sig FROM nulltoks")
      .collect().map(r2 => r2.getLong(0) -> r2.getLong(1)).toMap
    def expectedSig(toks: Seq[String], nBits: Int = 60): Long = {
      val M = 1000003L
      val sums = new Array[Long](nBits)
      toks.foreach {
        case null => (0 until nBits).foreach(j => sums(j) -= 1)
        case t =>
          val hv = graft.functions.Kernels.weakHash(
            org.apache.spark.unsafe.types.UTF8String.fromString(t))
          (0 until nBits).foreach { j =>
            val a = 104729L * (j + 1) % M
            val b = 15485863L * (j + 7) % M
            if ((a * hv + b) % M * 2 > M) sums(j) += 1 else sums(j) -= 1
          }
      }
      (0 until nBits).map(j => if (sums(j) > 0) 1L << j else 0L).sum
    }
    assert(viaSql(1L) === expectedSig(Seq("x y", null, "z")))
    assert(viaSql(2L) === expectedSig(Seq("x", null, "z")))
  }

  test("kernel stays inside whole-stage codegen (no fallback)") {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val df = e.select(NativeFunctions.dot_ff(col("embedding"), col("embedding")).as("d"))
    val plan = df.queryExecution.executedPlan.toString
    // codegen'd nodes print with the "*(stageId)" prefix; the Project
    // containing the kernel must carry it (CodegenFallback would drop it)
    assert(plan.linesIterator.exists(l =>
      l.contains("*(") && l.contains("dotproductexpr")), plan)
  }

  test("json_escape: JSON.stringify table through the expression and String entry points") {
    import graft.functions.{JsValues, JsonEscapeExpr}
    import org.apache.spark.sql.graft.ColumnBridge
    val named = Map(0x08 -> "\\b", 0x09 -> "\\t", 0x0a -> "\\n",
      0x0c -> "\\f", 0x0d -> "\\r")
    val controls = (0 until 0x20).map { c =>
      s"a${c.toChar}z" -> s"a${named.getOrElse(c, f"\\u$c%04x")}z"
    }
    val table: Seq[(String, String)] = controls ++ Seq(
      "\"" -> "\\\"",
      "\\" -> "\\\\",
      "say \"hi\"\\n\u0001" -> "say \\\"hi\\\"\\\\n\\u0001",
      "caf\u00e9 \u65e5\u672c \ud83d\ude00 \u007f" -> "caf\u00e9 \u65e5\u672c \ud83d\ude00 \u007f",
      "" -> "",
      (null: String) -> (null: String))
    assert(table.map(_._2).take(0x0e).drop(0x08) ===
      Seq("a\\bz", "a\\tz", "a\\nz", "a\\u000bz", "a\\fz", "a\\rz"))

    table.foreach { case (in, want) =>
      assert(JsValues.jsonEscape(in) === want, s"String entry point on $in")
    }
    val spark2 = spark
    import spark2.implicits._
    // repartition keeps the projection out of local-relation folding, so
    // the codegen'd kernel call is what runs
    val got = table.map(_._1).toDF("s").repartition(2)
      .select(col("s"),
        ColumnBridge.column(JsonEscapeExpr(ColumnBridge.expression(col("s")))))
      .collect().map(r => Option(r.getString(0)) -> r.getString(1)).toMap
    table.foreach { case (in, want) =>
      assert(got(Option(in)) === want, s"expression entry point on $in")
    }
    // every escaped value parses back to its input as a JSON string
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    table.filter(_._1 != null).foreach { case (in, want) =>
      assert(om.readTree("\"" + want + "\"").asText() === in)
    }
  }
}
