package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

import graft.functions.{CentroidMatrix, CorpusQuery, GopherCounts,
  MinHashSignature, NGrams, NearestCentroid, QueryDot, QueryTerms, QueryVector,
  ReweightedSparseDot, SparseDot, VectorFunctions => V}
import graft.operators.Dedup.HashFamily

/** Each curate kernel, the BM25 forward scan's [[SparseDot]] and the dense
  * leg's [[QueryDot]] against the formula it replaced, kept here as the
  * reference: the two columns are computed side by side over the same
  * rows and must be equal (`==` on the collected values, which
  * compares doubles by value and arrays element-wise), under whole-stage
  * codegen and with every code generator off. */
class CurateKernelsSpec extends SparkSpec {

  private def kernel(e: org.apache.spark.sql.catalyst.expressions.Expression) =
    ColumnBridge.column(e)
  private def expr(c: Column) = ColumnBridge.expression(c)

  // ---- the replaced formulas ----

  private def refGrams(toks: Column, n: Int): Column =
    when(size(toks) < n, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), size(toks) - n),
        i => array_join(slice(toks, i + 1, lit(n)), " ")))

  private def refSignature(set: Column, numHashes: Int,
      family: HashFamily): Column =
    array((0 until numHashes).map(s =>
      array_min(transform(set, x => family(s, x)))): _*)

  private def refAssign(vec: Column, cents: Seq[Array[Double]]): Column =
    -greatest(cents.zipWithIndex.map { case (c, i) =>
      struct(V.dot(vec, array(c.toIndexedSeq.map(lit): _*)).as("s"),
        lit(-i).as("negi"))
    }: _*).getField("negi")

  /** The staged projection `gopherQuality` computed its raw counts with,
    * one column per [[GopherCounts]] field. */
  private def refGopher(df: DataFrame, text: String): DataFrame = {
    val t = col(text)
    val staged = df.select(col("*"),
      filter(split(t, "\\s+"), w => length(w) > 0).as("_words"),
      filter(transform(split(t, "\n", -1), l => trim(l)),
        l => length(l) > 0).as("_lines"))
    val (words, lines) = (col("_words"), col("_lines"))
    staged.select(col("*"),
      size(words).cast("double").as("r_n_words"),
      aggregate(words, lit(0L), (acc, w) => acc + length(w))
        .cast("double").as("r_word_chars"),
      (length(t) - length(replace(t, lit("#"), lit("")))).cast("double")
        .as("r_n_hash"),
      ((length(t) - length(replace(t, lit("..."), lit("")))) / 3 +
        (length(t) - length(replace(t, lit("…"), lit(""))))).cast("double")
        .as("r_n_ellipsis"),
      size(filter(lines, l => substring(l, 1, 1).isin("•", "-", "*")))
        .cast("double").as("r_n_bullet_lines"),
      size(filter(lines, l =>
        (length(l) >= 3 && substring(l, -3, 3) === "...") ||
          substring(l, -1, 1) === "…")).cast("double").as("r_n_ellipsis_lines"),
      size(lines).cast("double").as("r_n_lines"),
      size(filter(words, w => w.rlike("[A-Za-z]"))).cast("double")
        .as("r_n_alpha_words"),
      size(array_intersect(
        array(graft.operators.TextAnalysis.GopherStopWords.map(lit): _*),
        transform(words, lower(_)))).cast("double").as("r_n_stop_hits"))
  }

  /** The forward scan's lambda score: null for a doc with no query term. */
  private def refSparseDot(fwd: Column, qTf: Map[String, Double]): Column = {
    val inQuery = (x: Column) => x.getField("term").isin(qTf.keys.toSeq: _*)
    when(exists(fwd, inQuery), aggregate(filter(fwd, inQuery), lit(0.0),
      (acc, x) => acc + x.getField("weight") *
        (element_at(typedLit(qTf), x.getField("term")) * x.getField("idf"))))
  }

  /** The filtered-corpus BM25 score of a forward row as the index build
    * and the postings join compute it: each query-term entry's weight
    * from its tf, the row's doc_len and the query's idf and avgdl, kept
    * when positive, summed with its query weight in entry order. */
  private def refReweighted(fwd: Column, docLen: Column,
      q: CorpusQuery): Column = {
    val qWeight = typedLit(q.terms.map { case (t, (w, _)) => t -> w })
    val idf = typedLit(q.terms.map { case (t, (_, i)) => t -> i })
    val norm = when(lit(q.avgDocLen) > 0.0, lit(1.0 - q.b) +
        lit(q.b) * docLen.cast("double") / lit(q.avgDocLen))
      .otherwise(lit(1.0))
    val weight = (x: Column) => element_at(idf, x.getField("term")) *
      (x.getField("tf").cast("double") * lit(q.k1 + 1.0)) /
      (x.getField("tf").cast("double") + lit(q.k1) * norm)
    val kept = (x: Column) =>
      x.getField("term").isin(q.terms.keys.toSeq: _*) && weight(x) > 0.0
    when(exists(fwd, kept), aggregate(filter(fwd, kept), lit(0.0),
      (acc, x) => acc + weight(x) * element_at(qWeight, x.getField("term"))))
  }

  // ---- harness ----

  private val modes = Seq(
    "whole-stage codegen" -> Map(
      "spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY"),
    "no codegen" -> Map(
      "spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))

  /** `body` once per mode, the mode's settings in force. */
  private def inEveryMode(body: String => Unit): Unit =
    modes.foreach { case (mode, conf) =>
      val before = conf.keys.map(k => k -> spark.conf.getOption(k)).toMap
      conf.foreach { case (k, v) => spark.conf.set(k, v) }
      try body(mode)
      finally before.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }

  /** `got` (a kernel) and `want` (its reference) over the same rows of
    * `df` must be equal, row by row. Each runs as its own query over one
    * checkpoint of `df`: the reference's lambdas are CodegenFallback,
    * which would take a shared projection out of whole-stage codegen.
    * The kernel's projection must be inside a generated stage exactly
    * when the mode has whole-stage codegen on. */
  private def assertSame(df: DataFrame, got: Column, want: Column,
      mode: String): Unit = {
    val in = df.localCheckpoint()
    val q = in.select(got)
    val (gotRows, wantRows) = (q.collect(), in.select(want).collect())
    assert(gotRows.nonEmpty && gotRows.length == wantRows.length)
    gotRows.zip(wantRows).foreach { case (g, w) =>
      assert(g.get(0) == w.get(0),
        s"$mode: kernel ${g.get(0)} != reference ${w.get(0)}")
    }
    assertStaged(q, expr(got).getClass, mode)
  }

  private def assertStaged(q: DataFrame, kernelClass: Class[_],
      mode: String): Unit = {
    val plan = q.queryExecution.executedPlan
    val staged = plan.collect { case w: WholeStageCodegenExec => w.child }
      .exists(_.exists(_.expressions.exists(_.exists(_.getClass == kernelClass))))
    assert(staged == mode.startsWith("whole"), s"$mode:\n$plan")
  }

  private def rdd(rows: Seq[Row]) = spark.sparkContext.parallelize(rows, 2)

  private lazy val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")

  private val tokenRows: Seq[Seq[String]] = Seq(
    null, Seq.empty, Seq("alpha"), Seq("alpha", "beta"),
    Seq("alpha", "beta", "gamma"),
    (1 to 8).map(i => s"t$i"), (1 to 10).map(i => s"t$i"),
    Seq("héllo", "wörld", "日本語", "🙂", "naïve"),
    Seq("a", null, "b", "c"), Seq("", "x", ""))

  test("NGrams equals the transform/slice/array_join formula") {
    val toks = spark.createDataFrame(
      rdd(tokenRows.map(Row(_))),
      StructType(Seq(StructField("toks", ArrayType(StringType)))))
    val corpus = docs.select(
      graft.functions.TextFunctions.tokensCol(col("text"), removeStopwords = false)
        .as("toks"))
    inEveryMode { mode =>
      for (n <- Seq(1, 3, 8); df <- Seq(toks, corpus))
        assertSame(df, kernel(NGrams(expr(col("toks")), n)),
          refGrams(col("toks"), n), s"$mode n=$n")
    }
    val types = toks.select(kernel(NGrams(expr(col("toks")), 3)),
      refGrams(col("toks"), 3)).schema.map(f => (f.dataType, f.nullable))
    assert(types.distinct.size == 1, types)
  }

  test("MinHashSignature equals one array_min(transform) per seed, for " +
      "both hash families") {
    val sets = spark.createDataFrame(
      rdd((tokenRows :+ Seq("a", "a")).map(Row(_))),
      StructType(Seq(StructField("set", ArrayType(StringType)))))
    val corpus = graft.operators.Dedup
      .shingleSets(docs, "doc_id", "text", 3).select(col("shingles").as("set"))
    inEveryMode { mode =>
      for (family <- Seq(HashFamily.XxHash64, HashFamily.Sha256Slice);
           numHashes <- Seq(4, 16, 20); df <- Seq(sets, corpus))
        assertSame(df,
          kernel(MinHashSignature(expr(col("set")), numHashes, family)),
          refSignature(col("set"), numHashes, family),
          s"$mode $family numHashes=$numHashes")
    }
  }

  test("NearestCentroid equals the struct-max argmax, ties to the lowest " +
      "index, at any k") {
    val rnd = new scala.util.Random(11)
    val floats = spark.createDataFrame(rdd(
      ((0 until 60).map(_ => Array.fill(4)(rnd.nextGaussian().toFloat)) ++
        Seq(null, Array.empty[Float], Array(Float.NaN, 1f, 0f, 0f),
          Array(0f, 0f, 0f, 0f), Array(-0f, 0f, 0f, 0f), Array(1f, 2f)))
        .map(Row(_))),
      StructType(Seq(StructField("vec", ArrayType(FloatType)))))
    val doubles = floats.select(col("vec").cast("array<double>").as("vec"))
    // 20 centroids with a duplicate pair (7 == 3) and a zero centroid
    val cents = {
      val c = (0 until 19).map(_ => Array.fill(4)(rnd.nextGaussian())) :+
        Array.fill(4)(0.0)
      c.updated(7, c(3))
    }
    val withNaN = cents.updated(5, Array(Double.NaN, 0.0, 0.0, 0.0))
    val wide = (0 until 200).map(_ => Array.fill(4)(rnd.nextGaussian()))
    inEveryMode { mode =>
      for ((name, cs) <- Seq("tied" -> cents, "nan centroid" -> withNaN,
             "k=200" -> wide, "k=2" -> cents.take(2));
           df <- Seq(floats, doubles))
        assertSame(df,
          kernel(NearestCentroid(expr(col("vec")), new CentroidMatrix(cs.toArray))),
          refAssign(col("vec"), cs), s"$mode $name")
    }
    // pinned: what the struct-max form gives a null, an empty and an
    // all-NaN vector
    val got = floats.select(kernel(NearestCentroid(expr(col("vec")),
      new CentroidMatrix(cents.toArray)))).collect().map(_.getInt(0))
    assert(got.slice(60, 63).toSeq == Seq(0, 0, 0))
  }

  test("NearestCentroid compares centroid matrices by value") {
    val a = new CentroidMatrix(Array(Array(1.0, 2.0), Array(Double.NaN, 0.0)))
    val b = new CentroidMatrix(Array(Array(1.0, 2.0), Array(Double.NaN, 0.0)))
    assert(a == b && a.hashCode == b.hashCode)
    assert(a != new CentroidMatrix(Array(Array(1.0, 2.0))))
    val v = org.apache.spark.sql.catalyst.expressions.AttributeReference(
      "v", ArrayType(DoubleType))()
    assert(NearestCentroid(v, a).canonicalized ==
      NearestCentroid(v, b).canonicalized)
    assert(!NearestCentroid(v, a).toString.contains("1.0"))
  }

  test("GopherCounts equals gopherQuality's staged lambda counts") {
    val texts = Seq(null, "", " ", "   \n  \n", "word",
      "tab\tseparated\twords\r\nand a CR line\r\n",
      "non breaking space stays in one word",
      "....", "..", "……", "a...b...c....", "trailing dots...\nend…",
      "• bullet one\n• bullet two\n- dash\n* star\n  • indented",
      "   \n\t\n   \n", "# ## ### hash # tags",
      "THE Of AnD tHaT to be have WITH with the",
      "WİTH the KK of", "日本語 テキスト the of …",
      "12 34 56 78", "a\n\n\nb\n", "\nleading newline", "x" * 300)
    val df = spark.createDataFrame(rdd(texts.zipWithIndex.map {
      case (t, i) => Row(i.toLong, t) }),
      StructType(Seq(StructField("id", LongType), StructField("text", StringType))))
    val corpus = docs.select(col("doc_id").as("id"), col("text"))
    val fields = GopherCounts.Schema.fieldNames.toSeq
    inEveryMode { mode =>
      for (input <- Seq(df, corpus)) {
        val in = input.localCheckpoint()
        val q = in.select(kernel(GopherCounts(expr(col("text")))).as("k"))
          .select(fields.map(f => col(s"k.$f").cast("double")): _*)
        val got = q.collect()
        val want = refGopher(in, "text")
          .select(fields.map(f => col(s"r_$f")): _*).collect()
        assert(got.nonEmpty && got.length == want.length)
        got.zip(want).zip(in.select("text").collect()).foreach {
          case ((g, w), t) => assert(g == w, s"$mode: $g != $w for $t")
        }
        assertStaged(q, classOf[GopherCounts], mode)
      }
    }
  }

  test("SparseDot equals the forward scan's aggregate(filter) score, null " +
      "when no entry is a query term") {
    val entry = StructType(Seq(StructField("term", StringType),
      StructField("weight", DoubleType), StructField("idf", DoubleType)))
    def e(t: String, w: Double, i: Double) = Row(t, w, i)
    val df = spark.createDataFrame(rdd(Seq(null, Seq.empty,
        Seq(e("zeta", 0.5, 1.5)), Seq(e("alpha", 0.3, 1.1)),
        Seq(e("alpha", 0.1, 0.7), e("beta", 1.0 / 3, 2.9), e("gamma", 0.2, 0.4)),
        Seq(e("beta", 1e-17, 3.0), e("delta", 7.25, 1e17), e("zeta", 0.1, 0.1)))
      .map(Row(_))), StructType(Seq(StructField("fwd", ArrayType(entry)))))
    val idx = graft.operators.Bm25.buildIndex(docs, "doc_id", "text")
    val corpus = idx.forward.select("fwd")
    val qTf = Map("alpha" -> 1.0, "beta" -> 2.0, "delta" -> 1.0) ++
      idx.stats.select("term").as[String](org.apache.spark.sql.Encoders.STRING)
        .head(3).map(_ -> 2.0)
    inEveryMode { mode =>
      for (input <- Seq(df, corpus))
        assertSame(input, kernel(SparseDot(expr(col("fwd")),
          new QueryTerms(qTf))), refSparseDot(col("fwd"), qTf), mode)
    }
    val fwd = expr(col("fwd"))
    assert(SparseDot(fwd, new QueryTerms(qTf)) ==
      SparseDot(fwd, new QueryTerms(qTf.toSeq.reverse.toMap)))
  }

  test("QueryDot equals DotProduct with the query vector as a literal, " +
      "bit for bit, over float and double arrays of any length") {
    val q = Array(0.25, -1.5, 1e-17, 3.0 / 7, 2.0)
    val vectors = Seq(null, Seq.empty[Double], Seq(1.0), Seq(0.1, 0.2, 0.3),
      Seq(1e17, 1.0, -1e17, 0.5, 1.0 / 3), Seq(1.5, -0.25, 9.0, 4.0, 0.1, 7.0))
    for (t <- Seq(DoubleType, FloatType)) {
      val df = spark.createDataFrame(rdd(vectors.map(v => Row(
          if (v == null || t == DoubleType) v else v.map(_.toFloat)))),
        StructType(Seq(StructField("v", ArrayType(t)))))
      inEveryMode { mode =>
        assertSame(df, kernel(QueryDot(expr(col("v")), new QueryVector(q))),
          V.dot(col("v"), typedLit(q)), s"$mode ($t)")
      }
    }
    val v = expr(col("v"))
    assert(QueryDot(v, new QueryVector(q)) ==
      QueryDot(v, new QueryVector(q.clone())))
  }

  test("ReweightedSparseDot equals the index build's weights re-derived " +
      "under other statistics, null when no entry is kept") {
    val entry = StructType(Seq(StructField("term", StringType),
      StructField("weight", DoubleType), StructField("idf", DoubleType),
      StructField("tf", LongType)))
    def e(t: String, tf: Long) = Row(t, 0.5, 1.5, tf)
    val df = spark.createDataFrame(rdd(Seq(
        Row(null, null), Row(Seq.empty, 0L), Row(Seq(e("zeta", 2)), 2L),
        Row(null, 3L), Row(Seq(e("alpha", 3)), 3L),
        Row(Seq(e("alpha", 1), e("beta", 4), e("gamma", 2)), 7L),
        Row(Seq(e("beta", 1), e("delta", 9), e("zeta", 1)), 41L))),
      StructType(Seq(StructField("fwd", ArrayType(entry)),
        StructField("doc_len", LongType))))
    val idx = graft.operators.Bm25.buildIndex(docs, "doc_id", "text")
    val corpus = idx.forward.select("fwd", "doc_len")
    val vocab = idx.stats.select("term").as[String](
      org.apache.spark.sql.Encoders.STRING).head(3)
    // delta's idf is 0: its entries weigh 0 and are skipped
    val terms = Map("alpha" -> ((1.1 / 3, 1.1)), "beta" -> ((5.8, 2.9)),
      "delta" -> ((0.0, 0.0))) ++ vocab.map(_ -> ((0.7, 0.35)))
    for (avgDocLen <- Seq(4.75, 0.0)) {
      val q = new CorpusQuery(terms, avgDocLen, 1.5, 0.75)
      inEveryMode { mode =>
        for (input <- Seq(df, corpus))
          assertSame(input, kernel(ReweightedSparseDot(expr(col("fwd")),
              expr(col("doc_len")), q)),
            refReweighted(col("fwd"), col("doc_len"), q), mode)
      }
    }
    assert(new CorpusQuery(terms, 1.0, 1.5, 0.75) ==
      new CorpusQuery(terms.toSeq.reverse.toMap, 1.0, 1.5, 0.75))
    assert(new CorpusQuery(terms, 1.0, 1.5, 0.75) !=
      new CorpusQuery(terms, 2.0, 1.5, 0.75))
  }

  test("gopherQuality evaluates its counts kernel once per row") {
    val p = graft.operators.TextAnalysis.gopherQuality(docs, "doc_id", "text")
      .queryExecution.optimizedPlan
    val perNode = p.collect { case n => n.expressions.map(_.collect {
      case g: GopherCounts => g }.size).sum }.filter(_ > 0)
    assert(perNode == Seq(1), p.toString)
  }
}
