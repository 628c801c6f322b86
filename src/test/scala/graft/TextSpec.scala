package graft

import org.apache.spark.sql.functions._

/** Behavioral checks for the text pipeline on crafted inputs (the
  * corpus lang column is synthetic — all testdata text is English-ish
  * word salad — so language ID is exercised on real multilingual
  * samples here, while its DuckDB oracle checks determinism).
  */
class TextSpec extends SparkSpec {

  test("q32 heuristic classifies real multilingual samples") {
    import spark.implicits._
    val samples = Seq(
      (1L, "the cat and the dog are in the house of a friend", "en"),
      (2L, "der hund und die katze sind nicht in der wohnung und das ist gut", "de"),
      (3L, "el perro y la casa es una cosa que los gatos quieren y es verdad", "es"),
      (4L, "le chien et le chat sont dans une maison et c'est la vie des amis", "fr"))
      .toDF("doc_id", "text", "lang")
    samples.createOrReplaceTempView("spec_docs")
    // same scoring expressions as q32, applied to the crafted samples
    val scored = samples.select(col("doc_id"), col("lang"),
      size(regexp_extract_all(col("text"), lit("\\b(the|a|and|of|to|in|is)\\b"), lit(0))).as("en"),
      size(regexp_extract_all(col("text"), lit("\\b(der|die|das|und|ist|nicht|ein)\\b"), lit(0))).as("de"),
      size(regexp_extract_all(col("text"), lit("\\b(el|los|las|una|es|y|que)\\b"), lit(0))).as("es"),
      size(regexp_extract_all(col("text"), lit("\\b(le|les|des|et|est|une|dans)\\b"), lit(0))).as("fr"))
      .withColumn("predicted",
        when(col("en") >= col("de") && col("en") >= col("es") && col("en") >= col("fr"), "en")
          .when(col("de") >= col("es") && col("de") >= col("fr"), "de")
          .when(col("es") >= col("fr"), "es")
          .otherwise("fr"))
    val wrong = scored.filter(col("predicted") =!= col("lang")).collect()
    assert(wrong.isEmpty, s"misclassified: ${wrong.mkString(",")}")
  }

  test("q30 token counts: whitespace vs BPE-ish tokenization") {
    import spark.implicits._
    val df = Seq((1L, "hello, world! 42 times")).toDF("doc_id", "text")
    val r = df.select(
      size(regexp_extract_all(col("text"), lit("\\S+"), lit(0))).as("ws"),
      size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))).as("bpe"))
      .head()
    assert(r.getInt(0) == 4)       // hello, world! 42 times
    assert(r.getInt(1) == 6)       // hello , world ! 42 times
  }

  test("q31 quality score is bounded in [0,1] and favors clean text") {
    val rows = run("q31_quality_score").collect()
    for (r <- rows) {
      val q = r.getAs[Double]("quality")
      assert(q >= 0.0 && q <= 1.0, s"quality $q out of range for doc ${r.getLong(0)}")
    }
  }

  test("TextProfile fused pass ≡ the regex stack on hostile inputs") {
    import spark.implicits._
    // word-boundary edges, digits/underscore gluing, uppercase,
    // tabs/newlines (punct class excludes ONLY space), multibyte chars,
    // stopwords shared across languages, runs longer than any stopword
    val hostile = Seq(
      "the cat in the hat is a hat of the cat",
      "the_cat in5 THE a- -a -a- a",
      "theory of din is not in; the.the,the",
      "tab\there\nnewlinevtab\rcr and\fff",
      "café naï the über und der däs",
      "日本語 the 日本 es y est une",
      "a",
      "   ",
      "es es es y y que der die das le les des",
      "punct!!! ### $$$ 123 abc ABC _x_ x_x 9to5",
      "aaaaaaaaaaaaaaaaaaaa bbbbb the").toDF("text")
    val pats = Seq(
      "\\S+", "[a-z]+|[0-9]+|[^a-z0-9\\s]", "[^a-z0-9 ]",
      "\\b(the|a|and|of|to|in|is)\\b", "\\b(der|die|das|und|ist|nicht|ein)\\b",
      "\\b(el|los|las|una|es|y|que)\\b", "\\b(le|les|des|et|est|une|dans)\\b")
    val p = graft.functions.TextProfile(col("text"))
    val fields = Seq("n_ws_tokens", "n_bpe_tokens", "n_punct",
      "en_hits", "de_hits", "es_hits", "fr_hits")
    val rows = hostile.select(col("text"),
      struct(fields.map(f => p.getField(f).as(f)): _*).as("fused"),
      struct(pats.zip(fields).map { case (pat, f) =>
        size(regexp_extract_all(col("text"), lit(pat), lit(0))).cast("long").as(f)
      }: _*).as("regex")).collect()
    for (r <- rows) {
      assert(r.getStruct(1) == r.getStruct(2),
        s"fused=${r.getStruct(1)} regex=${r.getStruct(2)} for text '${r.getString(0)}'")
    }
  }

  test("TextProfile fused pass ≡ the regex stack on random inputs (fixed seed)") {
    import spark.implicits._
    // random sweep over an alphabet engineered to hit every class
    // transition: word chars (both cases), digits, underscore, all five
    // whitespace kinds, ASCII punct, multibyte chars, and whole
    // stopwords (incl. cross-language ones) glued with varying joiners
    val rnd = new scala.util.Random(101)
    val atoms = Seq("the", "a", "es", "y", "der", "und", "le", "est", "in", "is",
      "theory", "x", "X", "_", "5", "42", "!", ".", "#", "café", "日", " ",
      "\t", "\n", "\r", "", "\f", "ab", "AB", "a_b", "9to5")
    val cases = (1 to 300).map { _ =>
      (1 to rnd.nextInt(30)).map(_ => atoms(rnd.nextInt(atoms.size))).mkString
    }.distinct
    // the stopword boundary is the ASCII [A-Za-z0-9_] one — the
    // semantics of the DuckDB/RE2 oracle and of the fused pass. Java's
    // \b is Unicode-aware (a stopword glued to 日 or é has no Java
    // boundary), so the mirror spells the ASCII boundary out with
    // lookarounds instead of \b — this sweep is what caught the
    // difference.
    def ascii(words: String) = s"(?<![a-zA-Z0-9_])($words)(?![a-zA-Z0-9_])"
    val pats = Seq(
      "\\S+", "[a-z]+|[0-9]+|[^a-z0-9\\s]", "[^a-z0-9 ]",
      ascii("the|a|and|of|to|in|is"), ascii("der|die|das|und|ist|nicht|ein"),
      ascii("el|los|las|una|es|y|que"), ascii("le|les|des|et|est|une|dans"))
    val p = graft.functions.TextProfile(col("text"))
    val fields = Seq("n_ws_tokens", "n_bpe_tokens", "n_punct",
      "en_hits", "de_hits", "es_hits", "fr_hits")
    val rows = cases.toDF("text").select(col("text"),
      struct(fields.map(f => p.getField(f).as(f)): _*).as("fused"),
      struct(pats.zip(fields).map { case (pat, f) =>
        size(regexp_extract_all(col("text"), lit(pat), lit(0))).cast("long").as(f)
      }: _*).as("regex")).collect()
    for (r <- rows) {
      assert(r.getStruct(1) == r.getStruct(2),
        s"fused=${r.getStruct(1)} regex=${r.getStruct(2)} for text '${r.getString(0)}'")
    }
  }

  test("q38 optional near-dup stage drops exactly the non-survivor members") {
    import org.apache.spark.sql.functions.col
    import graft.operators.{Components, Dedup => D}
    val gated = graft.queries.Text.curatedSurvivors(tables, None)
    val pairs = D.nearDupPairs(gated, "doc_id", "text")
    val nonSurvivors = Components.label(pairs, "doc_a", "doc_b")
      .filter(col("id") =!= col("label")).collect().map(_.getLong(0)).toSet
    assert(nonSurvivors.nonEmpty,
      "fixture sanity: no near-dup pairs survive the gates — stage untestable")
    val offIds = gated.select("doc_id").collect().map(_.getLong(0)).toSet
    val onIds = graft.queries.Text.curatedSurvivors(tables, Some(0.8))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(onIds == offIds -- nonSurvivors)
    // and the registered q38 aggregate is exactly the stage-off form
    val agg = graft.queries.Text.corpusPipeline(tables, Some(0.8))
      .agg(org.apache.spark.sql.functions.sum("n_docs")).head.getLong(0)
    assert(agg == onIds.size)
    spark.catalog.clearCache()
  }

  test("q33 fingerprint: near-identical docs share shingle_fp far more than random") {
    val fp = run("q33_fingerprint").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val planted = run("q43_dedup_ngram_jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val sharing = planted.count { case (a, b) => fp(a) == fp(b) }
    // min-hash over strided shingles: most 0.98+-jaccard pairs share the min
    assert(sharing.toDouble / planted.length >= 0.5,
      s"only $sharing/${planted.length} planted pairs share a fingerprint")
  }

  test("word k-grams match Scala's sliding(k): positional, distinct and hashed; short docs yield none") {
    import spark.implicits._
    import graft.operators.Shingles
    val texts = Seq("a b c d e f g h i j", "x y x y x y x y", "to be or not to be", "solo", "p q")
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val words = docs.select(col("doc_id"), split(col("text"), " ").as("w"))
    for (k <- Seq(1, 2, 3, 8); distinct <- Seq(false, true)) {
      val ref = texts.zipWithIndex.flatMap { case (t, i) =>
        val ws = t.split(" ").toSeq
        // sliding(k) yields the whole doc as one window when it is
        // shorter than k; such a doc has no k-grams
        val grams = if (ws.length < k) Nil else ws.sliding(k).map(_.mkString(" ")).toSeq
        if (grams.isEmpty) None else Some(i.toLong -> (if (distinct) grams.distinct else grams))
      }.toMap
      val got = words.filter(size(col("w")) >= k)
        .select(col("doc_id"), expr(Shingles.wordGrams(k, distinct = distinct)).as("g"))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      assert(got == ref, s"k=$k distinct=$distinct")
      if (distinct) {
        val want = ref.toSeq.flatMap { case (d, gs) => gs.map(d -> _) }.toDF("doc_id", "g")
          .select(col("doc_id"), xxhash64(col("g")).as("h"))
        val hashes = Shingles.docHashes(docs, k)
        assert(hashes.count() == want.count() && hashes.exceptAll(want).isEmpty,
          s"docHashes k=$k")
      } else {
        val pos = Shingles.gramPositions(words, k, col("doc_id"))
          .select(col("doc_id"), col("pos")).as[(Long, Long)].collect().toSet
        assert(pos == ref.toSeq.flatMap { case (d, gs) => gs.indices.map(d -> _.toLong) }.toSet,
          s"gramPositions k=$k")
      }
    }
  }
}
