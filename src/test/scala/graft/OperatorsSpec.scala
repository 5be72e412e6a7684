package graft

import graft.operators.{Dedup, Similarity, TextStats}

import org.apache.spark.sql.functions._

/** Unit tests for the LLM-pipeline operators (dedup / text stats /
  * similarity). */
class OperatorsSpec extends SparkTestBase {

  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank"),
    (3L, "a completely different document about spark query engines and joins"),
    (4L, "the quick brown fox jumps over the lazy dog near the river bend"),
    (5L, "der hund läuft durch die stadt und ist nicht müde"),
    (6L, "le chat est dans la maison et il ne dort pas")
  ).toDF("doc_id", "text")

  test("exactDupPairs finds identical texts only") {
    val pairs = Dedup.exactDupPairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("exactDupPairs shuffles on the 8-byte fingerprint, never raw text") {
    // kill the broadcast (a 6-row input would broadcast-join) so the
    // at-scale exchange shape is what gets asserted: the self-join must
    // hash-partition on fp ALONE — the coalesce() wrapper keeps the text
    // equality out of the extracted join keys
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = Dedup.exactDupPairs(docs, "doc_id", "text")
        .queryExecution.executedPlan.toString
      assert(plan.contains("hashpartitioning(fp#"), plan)
      assert(!plan.contains("hashpartitioning(t#"), plan)
      assert(!plan.contains("hashpartitioning(t1#"), plan)
      assert(!plan.contains("hashpartitioning(t2#"), plan)
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("kernels skip NULL array elements instead of hashing them as 0") {
    import org.apache.spark.sql.Row
    val r = spark.sql(
      """SELECT minhash_signature(array(CAST(7 AS BIGINT), NULL)) AS m1,
        |       minhash_signature(array(CAST(7 AS BIGINT))) AS m2,
        |       simhash64(array(CAST(7 AS BIGINT), NULL)) AS s1,
        |       simhash64(array(CAST(7 AS BIGINT))) AS s2""".stripMargin)
      .head()
    assert(r.getSeq[Long](0) == r.getSeq[Long](1))
    assert(r.getLong(2) == r.getLong(3))
  }

  test("NULL texts never pair: exact, minhash and simhash paths") {
    // GROUP BY treats NULLs as equal and all-NULL signatures share every
    // bucket — without guards, NULL-text docs would all report as dups
    // of each other (and dropDuplicateDocs would delete all but one)
    val withNulls = docs.union(
      Seq((90L, null: String), (91L, null: String), (92L, null: String))
        .toDF("doc_id", "text"))
    val exact = Dedup.exactDupPairs(withNulls, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact == Set((1L, 2L)))
    val lsh = Dedup.lshCandidatePairs(withNulls, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!lsh.exists(p => p._1 >= 90L || p._2 >= 90L))
    val sim = Dedup.simhashDupPairs(withNulls, "doc_id", "text", maxHamming = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!sim.exists(p => p._1 >= 90L || p._2 >= 90L))
  }

  test("minhash-LSH candidates have recall 1 on exact duplicates") {
    val cands = Dedup.lshCandidatePairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands.contains((1L, 2L)))
  }

  test("maxBucketSize skips oversized LSH buckets, keeps small ones") {
    // a 40-member identical-text family (one oversized bucket per band)
    // next to an unrelated small exact-dup pair: with the cap armed
    // below the family size, zero family pairs survive while the small
    // pair still pairs; unbounded, the family emits all C(40,2) pairs
    val family = spark.range(100, 140)
      .select(col("id").as("doc_id"),
        lit("the same boilerplate licence header text " +
          "repeated across a mirrored corpus").as("text"))
    val pairDocs = Seq(
      (900L, "an unrelated document that appears exactly twice only"),
      (901L, "an unrelated document that appears exactly twice only"))
      .toDF("doc_id", "text")
    val corpus = family.union(pairDocs)
    val capped = Dedup.lshCandidatePairs(corpus, "doc_id", "text",
        maxBucketSize = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((900L, 901L)),
      s"cap must keep only the small bucket's pair, got $capped")
    val unbounded = Dedup.lshCandidatePairs(corpus, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(unbounded.size == 40 * 39 / 2 + 1)
  }

  test("minhashDupPairs: exact dup has jaccard 1.0, near dup found high") {
    val pairs = Dedup.minhashDupPairs(docs, "doc_id", "text", threshold = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs((1L, 2L)) == 1.0)
    // docs 1/4 differ in the last word: jaccard just below 1
    assert(pairs.contains((1L, 4L)) && pairs((1L, 4L)) > 0.6 && pairs((1L, 4L)) < 1.0)
    assert(!pairs.keys.exists { case (a, b) => a == 3L || b == 3L })
    // outside (0,1] a threshold silently keeps every candidate (<= 0)
    // or links nothing (> 1): both Jaccard-verified LSH joins reject it
    for (t <- Seq(0.0, -0.5, 1.5)) {
      intercept[IllegalArgumentException] {
        Dedup.minhashDupPairs(docs, "doc_id", "text", threshold = t)
      }
      intercept[IllegalArgumentException] {
        Dedup.crossCorpusDupPairs(docs, docs, "doc_id", "text", threshold = t)
      }
    }
  }

  test("simhash: identical texts → hamming 0; near dup within 3 bits") {
    val pairs = Dedup.simhashDupPairs(docs, "doc_id", "text", maxHamming = 63)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(pairs((1L, 2L)) == 0)
  }

  test("jaccard column: intersect/union semantics") {
    val df = Seq((Seq("a", "b", "c"), Seq("b", "c", "d")))
      .toDF("x", "y")
      .select(Dedup.jaccard($"x", $"y").as("j"))
    assert(df.head().getDouble(0) == 0.5)
  }

  test("tokenCount edge cases") {
    val df = Seq("", "   ", "one", "  two  words ", "a\tb\nc")
      .toDF("t").select(TextStats.tokenCount($"t").as("n"))
    assert(df.collect().map(_.getInt(0)).toSeq == Seq(0, 0, 1, 2, 3))
  }

  test("ratios are bounded and deterministic") {
    val r = docs.select(
      TextStats.punctRatio($"text").as("p"),
      TextStats.digitRatio($"text").as("d"),
      TextStats.stopwordRatio($"text").as("s"),
      TextStats.qualityScore($"text").as("q")).collect()
    r.foreach { row =>
      (0 until 4).foreach { i =>
        val v = row.getDouble(i)
        assert(v >= 0.0 && v <= 1.0)
      }
    }
  }

  test("redactPii scrubs emails, IPs and long digit runs; leaves prose alone") {
    val df = Seq(
      "mail bob.smith+x@corp.example.org now",
      "server at 192.168.1.254 port 80",
      "card 4111111122223333 and acct 12345678",
      "version 1.2.3 has 123 small numbers",   // not an IP (3 quads), short digits
      "clean prose stays untouched").toDF("text")
      .select(TextStats.redactPii(col("text")).as("c"))
    assert(df.collect().map(_.getString(0)).toSeq == Seq(
      "mail <EMAIL> now",
      "server at <IP> port 80",
      "card <NUM> and acct <NUM>",
      "version 1.2.3 has 123 small numbers",
      "clean prose stays untouched"))
  }

  test("NULL text: fingerprint and repetitionRatio return NULL, not constants") {
    val df = Seq((1L, null: String), (2L, "real text here"))
      .toDF("id", "text")
      .select(col("id"),
        TextStats.contentFingerprint(col("text")).as("fp"),
        TextStats.repetitionRatio(col("text")).as("rep"))
    val byId = df.collect().map(r => r.getLong(0) -> (r.isNullAt(1), r.isNullAt(2))).toMap
    assert(byId(1L) == ((true, true)))  // NULL in, NULL out
    assert(byId(2L) == ((false, false)))
  }

  test("repetitionRatio flags degenerate loops, not prose") {
    val df = Seq(
      (1L, "spam ham spam ham spam ham spam ham"),     // 7 bigrams, 2 distinct
      (2L, "all words here are used exactly once ok"), // no repeats
      (3L, "short"),                                   // < n words -> 0
      (4L, "")
    ).toDF("id", "text")
    val r = df.select(col("id"),
      TextStats.repetitionRatio(col("text")).as("r"))
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(math.abs(r(1L) - 5.0 / 7.0) < 1e-6)
    assert(r(2L) == 0.0 && r(3L) == 0.0 && r(4L) == 0.0)
  }

  test("kernel tokenization matches the declarative split on \\s semantics") {
    // U+3000 (ideographic space) is NOT in the regex \s class: both the
    // compiled TextProfile kernel and Dedup.words must treat it as a
    // word character, and "IT IS" must lowercase locale-independently
    val df = Seq((1L, "IT IS　THE test")).toDF("id", "text")
    val nTok = df.select(TextStats.tokenCount(col("text"))).head().getInt(0)
    val nWords = df.select(size(Dedup.words(col("text")))).head().getInt(0)
    assert(nTok == nWords && nTok == 3) // "it", "is　the", "test"
    // stopword matching sees the lower-cased "it"/"test" tokens only
    val sw = df.select(TextStats.stopwordRatio(col("text"))).head().getDouble(0)
    assert(math.abs(sw - 1.0 / 3.0) < 1e-6) // only "it" is a stopword
  }

  test("langId picks the right stopword profile") {
    val preds = docs.select($"doc_id", TextStats.langId($"text").as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(preds(1L) == "en")
    assert(preds(5L) == "de")
    assert(preds(6L) == "fr")
  }

  test("fingerprint: equal texts equal, stable across evaluation") {
    val fps = docs.select($"doc_id", TextStats.fingerprint($"text").as("f"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps(1L) == fps(2L))
    val fps2 = docs.select($"doc_id", TextStats.fingerprint($"text").as("f"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps == fps2)
  }

  test("dropDuplicateDocs keeps the first occurrence of each text") {
    val cleaned = graft.operators.Dedup
      .dropDuplicateDocs(docs, "doc_id", "text")
      .collect().map(_.getLong(0)).toSet
    assert(cleaned == Set(1L, 3L, 4L, 5L, 6L)) // doc 2 == doc 1 dropped
    val nearCleaned = graft.operators.Dedup
      .dropDuplicateDocs(docs, "doc_id", "text", jaccardThreshold = 0.6)
      .collect().map(_.getLong(0)).toSet
    assert(!nearCleaned.contains(2L) && !nearCleaned.contains(4L)) // near dup of 1
    assert(nearCleaned.contains(1L) && nearCleaned.contains(3L))
  }

  test("crossCorpusDupPairs finds planted contamination, nothing else") {
    // test 101 near-matches train doc 1 (one trailing word differs);
    // test 102 matches nothing
    val test = Seq(
      (101L, "the quick brown fox jumps over the lazy dog near the river delta"),
      (102L, "unrelated words about databases indexes and storage formats")
    ).toDF("doc_id", "text")
    val hits = graft.operators.Dedup
      .crossCorpusDupPairs(docs, test, "doc_id", "text", threshold = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // docs 1, 2 (identical) and 4 (near) all sit above 0.6 vs test 101
    assert(hits.map(_._2) == Set(101L))
    assert(hits.map(_._1).subsetOf(Set(1L, 2L, 4L)))
    assert(hits.contains((1L, 101L)) && hits.contains((2L, 101L)))
  }

  test("ngramHitContamination counts verbatim grams whole-doc jaccard misses") {
    // test 201: doc 3's text VERBATIM inside a much larger document —
    // jaccard vs doc 3 is low (the big doc has many extra grams) but
    // every one of doc 3's 5-grams hits
    val filler = (1 to 80).map(i => s"filler$i").mkString(" ")
    val test = Seq(
      (201L, s"$filler a completely different document about spark query engines and joins $filler"),
      (202L, "nothing here overlaps with any training material at all today")
    ).toDF("doc_id", "text")
    val jac = graft.operators.Dedup
      .crossCorpusDupPairs(docs, test, "doc_id", "text", threshold = 0.5)
    assert(jac.where(col("test_id") === 201L).isEmpty) // jaccard blind spot
    val hits = graft.operators.Dedup
      .ngramHitContamination(docs, test, "doc_id", "text", n = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // doc 3 has 10 words -> 6 distinct 5-grams, all pasted verbatim
    assert(hits == Map(201L -> 6L))
  }

  test("bm25 matches a hand-computed Okapi score; non-matching docs drop") {
    val corpus = Seq(
      (1L, "spark spark joins data"),
      (2L, "databases and storage"),
      (3L, "spark streaming")
    ).toDF("doc_id", "text")
    val got = TextStats.bm25(corpus, "doc_id", "text", Seq("spark"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // N=3, df=2, avgdl=3.0; idf = ln(1 + 1.5/2.5)
    val idf = math.log(1.0 + (3.0 - 2 + 0.5) / (2 + 0.5))
    def s(tf: Double, dl: Double) =
      BigDecimal(idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / 3.0)))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.keySet == Set(1L, 3L)) // doc 2 has no query term
    assert(got(1L) == s(2.0, 4.0) && got(3L) == s(1.0, 2.0))
  }

  test("bloom kernel: no false negatives, bounded false-positive rate") {
    import graft.functions.BloomKernel
    val rnd = new scala.util.Random(42)
    val members = Array.fill(10000)(rnd.nextLong())
    val words = BloomKernel.sizeWords(members.length, 12)
    val bits = new Array[Long](words)
    members.foreach(BloomKernel.add(bits, 6, _))
    // no false negatives — every inserted key must probe true
    assert(members.forall(BloomKernel.mightContain(bits, 6, _)))
    // fp rate near the 12-bits/key, 6-probe design point (~0.3%)
    val memberSet = members.toSet
    val probes = Iterator.continually(rnd.nextLong())
      .filterNot(memberSet).take(100000).toArray
    val fps = probes.count(BloomKernel.mightContain(bits, 6, _))
    assert(fps < 1500, s"false-positive rate too high: $fps / 100000")
  }

  test("bloomNgramContamination equals the exact gram join, train-side") {
    val filler = (1 to 80).map(i => s"filler$i").mkString(" ")
    val test = Seq(
      (201L, s"$filler a completely different document about spark query engines and joins $filler"),
      (202L, "nothing here overlaps with any training material at all today")
    ).toDF("doc_id", "text")
    val bloom = graft.operators.Dedup
      .bloomNgramContamination(docs, test, "doc_id", "text", n = 5)
    // exact reference: distinct shared gram hashes per train doc
    val trainG = docs.select(col("doc_id").as("train_id"),
      explode(Dedup.shingleHashes(col("text"), 5)).as("g"))
    val testG = test.select(explode(Dedup.shingleHashes(col("text"), 5)).as("g")).distinct()
    val exact = trainG.join(testG, Seq("g"), "leftsemi")
      .groupBy("train_id").agg(count(lit(1)).as("n_hits"))
    assert(bloom.except(exact).isEmpty && exact.except(bloom).isEmpty)
    // doc 3's grams were pasted verbatim into test 201 → doc 3 flagged
    val flagged = bloom.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(flagged.contains(3L) && flagged(3L) == 6L)
  }

  test("editDistancePairs keeps in-threshold pairs, exact distances") {
    val corpus = Seq(
      (1L, "kitten sat here"), (2L, "sitten sat here"), // dist 1
      (3L, "a completely different sentence entirely"),
      (4L, "kitten sat hereX")                          // dist 1 vs doc 1
    ).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("left_id", "right_id")
    val got = graft.operators.Dedup
      .editDistancePairs(corpus, "doc_id", "text", pairs, maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // (1,3) is far beyond 3 edits → cut by the threshold early-exit
    assert(got == Map((1L, 2L) -> 1L, (1L, 4L) -> 1L))
  }

  test("dedupAgainstSeen keeps only fingerprint-absent docs; null text kept") {
    val seenTexts = Seq("the quick brown fox", "old boilerplate page")
    val seen = seenTexts.toDF("text")
      .select(TextStats.contentFingerprint(col("text")).as("fp"))
      // duplicate store rows must not duplicate output
      .union(seenTexts.take(1).toDF("text")
        .select(TextStats.contentFingerprint(col("text")).as("fp")))
    val batch = Seq(
      (1L, Some("the quick brown fox")),   // re-crawl → dropped
      (2L, Some("a genuinely new doc")),   // new → kept
      (3L, Some("old boilerplate page")),  // re-crawl → dropped
      (4L, None)                           // null text → kept
    ).toDF("doc_id", "text")
    val kept = graft.operators.Dedup
      .dedupAgainstSeen(batch, "doc_id", "text", seen, "fp")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 4L))
  }

  test("topKByQuality keeps k best per group and plans a WindowGroupLimit") {
    val corpus = Seq(
      (1L, "s0", "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "s0", "x"),
      (3L, "s0", "a solid document with the usual words and a reasonable length here"),
      (4L, "s1", "another ordinary document of plain words")
    ).toDF("doc_id", "source", "text")
    val out = TextStats.topKByQuality(corpus, "doc_id", "text", "source", k = 2)
    // map-side per-group limiting must be in the plan — without it every
    // domain sorts wholesale through the exchange
    assert(out.queryExecution.executedPlan.toString.contains("WindowGroupLimit"))
    val got = out.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(3)))
    assert(got.count(_._2 == "s0") == 2 && got.count(_._2 == "s1") == 1)
    // doc 2 ("x") is the worst s0 doc and must be the one cut
    assert(!got.exists(_._1 == 2L))
  }

  test("lengthPercentiles: percentile-disc off the histogram, integer-exact") {
    val df = ((1L to 10L).map(v => ("a", v)) ++ Seq(("b", 2L), ("b", 2L),
      ("b", 2L), ("b", 3L))).toDF("grp", "len")
    val got = TextStats.lengthPercentiles(df, "grp", "len", Seq(50, 95, 99))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    // a: 1..10 → p50 = ceil(5.0) = 5th = 5; p95 = ceil(9.5) = 10th = 10
    // b: [2,2,2,3] → p50 = ceil(2.0) = 2nd = 2; p95 = ceil(3.8) = 4th = 3
    assert(got == Map(("a", 50L) -> 5L, ("a", 95L) -> 10L, ("a", 99L) -> 10L,
      ("b", 50L) -> 2L, ("b", 95L) -> 3L, ("b", 99L) -> 3L))
  }

  test("decontaminate drops only contaminated test docs") {
    val test = Seq(
      (101L, "the quick brown fox jumps over the lazy dog near the river delta"),
      (102L, "unrelated words about databases indexes and storage formats")
    ).toDF("doc_id", "text")
    val clean = graft.operators.Dedup
      .decontaminate(docs, test, "doc_id", "text", threshold = 0.6)
      .collect().map(_.getLong(0)).toSet
    assert(clean == Set(102L))
  }

  test("decontaminate works when the caller's id column is named test_id") {
    val test = Seq(
      (101L, "the quick brown fox jumps over the lazy dog near the river delta"),
      (102L, "unrelated words about databases indexes and storage formats")
    ).toDF("test_id", "text")
    val clean = graft.operators.Dedup
      .decontaminate(docs.toDF("test_id", "text"), test, "test_id", "text",
        threshold = 0.6)
      .collect().map(_.getLong(0)).toSet
    assert(clean == Set(102L))
  }

  test("crossCorpusDupPairs broadcasts the test side (plan-asserted)") {
    val test = Seq((101L, "some eval document text here")).toDF("doc_id", "text")
    val plan = graft.operators.Dedup
      .crossCorpusDupPairs(docs, test, "doc_id", "text", threshold = 0.8)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("repeatedSpans finds cross-document runs, merges them maximally, " +
       "and ignores within-document repetition") {
    val shared = (1 to 12).map(i => s"tok$i").mkString(" ") // 12 shared tokens
    val d = Seq(
      (1L, s"alpha beta $shared gamma delta epsilon zeta eta theta iota"),
      (2L, s"one two three four five six $shared seven eight nine ten"),
      // within-doc repetition ONLY: an 8-gram repeated twice in the same
      // doc must NOT mark spans (min(doc) == max(doc))
      (3L, ("w1 w2 w3 w4 w5 w6 w7 w8 " * 2) + "tail1 tail2 tail3"),
      (4L, "completely unrelated text with nothing shared at all here ok")
    ).toDF("doc_id", "text")
    val spans = graft.operators.Dedup.repeatedSpans(d, "doc_id", "text", n = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    // doc 1: shared run = tokens 2..13 (0-based); 8-grams fully inside it
    // start at positions 2..6 (5 grams), span covers 2..13
    // doc 2: shared run = tokens 6..17; gram starts 6..10, span 6..17
    assert(spans == Set((1L, 2L, 13L, 5L), (2L, 6L, 17L, 5L)))
  }

  test("repeatedSpans matches a driver-side brute force (randomized)") {
    val rnd = new scala.util.Random(23)
    val vocab = Vector("aa", "bb", "cc", "dd", "ee")
    val n = 4 // tiny vocab + small n so cross-doc gram repeats are common
    val corpus = (1L to 12L).map { id =>
      id -> Seq.fill(20 + rnd.nextInt(15))(vocab(rnd.nextInt(vocab.size)))
        .mkString(" ")
    }
    // reference implementation: positional grams, cross-doc filter,
    // consecutive-position merge
    val grams = corpus.flatMap { case (id, t) =>
      t.split("\\s+").toSeq.sliding(n).zipWithIndex.collect {
        case (g, i) if g.size == n => (id, i, g.mkString(" "))
      }
    }
    val crossDoc = grams.groupBy(_._3)
      .filter { case (_, gs) => gs.map(_._1).distinct.size > 1 }.keySet
    val expected = grams.filter(g => crossDoc(g._3))
      .groupBy(_._1).flatMap { case (id, hs) =>
        val ps = hs.map(_._2).sorted
        val runs = ps.foldLeft(List.empty[List[Int]]) {
          case (acc @ (run @ (last :: _)) :: rest, p) if p == last + 1 =>
            (p :: run) :: rest
          case (acc, p) => List(p) :: acc
        }
        runs.map(r => (id, r.min.toLong, (r.max + n - 1).toLong, r.size.toLong))
      }.toSet
    val got = graft.operators.Dedup
      .repeatedSpans(corpus.toDF("doc_id", "text"), "doc_id", "text", n)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == expected)
    assert(expected.nonEmpty, "premise: the random corpus must collide")
  }

  test("chunkTokens invariants hold on random docs (coverage, no " +
       "subset chunks, overlap stitching)") {
    val rnd = new scala.util.Random(31)
    for (trial <- 1 to 8) {
      val size = 3 + rnd.nextInt(6)
      val overlap = rnd.nextInt(size)
      val step = size - overlap
      val nTok = 1 + rnd.nextInt(40)
      val toks = (0 until nTok).map(i => s"w$i")
      val d = Seq((1L, toks.mkString(" "))).toDF("doc_id", "text")
      val chunks = graft.operators.TextStats
        .chunkTokens(d, "doc_id", "text", size, overlap)
        .collect().map(r => (r.getLong(1), r.getString(2).split(" ").toSeq))
        .sortBy(_._1)
      val covered = chunks.zipWithIndex.flatMap { case ((cid, ts), idx) =>
        val start = cid.toInt * step
        // chunk content must be the real token window at its stride start
        assert(ts == toks.slice(start, math.min(start + size, nTok)),
          s"trial $trial size=$size overlap=$overlap chunk $cid")
        ts.map(t => t.drop(1).toInt)
      }.toSet
      assert(covered == (0 until nTok).toSet,
        s"trial $trial: tokens not fully covered")
      // no chunk is a subset of another (the tail-skip invariant)
      val sets = chunks.map(_._2.toSet)
      for (a <- sets.indices; b <- sets.indices if a != b)
        assert(!sets(a).subsetOf(sets(b)),
          s"trial $trial: chunk $a subset of $b (size=$size overlap=$overlap)")
    }
  }

  test("cutRepeatedSpans keeps the owner's copy, cuts the others, " +
       "passes untouched docs verbatim") {
    val shared = (1 to 12).map(i => s"tok$i").mkString(" ")
    val d = Seq(
      (1L, s"alpha beta $shared gamma delta epsilon zeta eta theta iota"),
      (2L, s"one two three four five six $shared seven eight nine ten"),
      (4L, "Completely Unrelated  Text untouched HERE") // case/space kept
    ).toDF("doc_id", "text")
    val got = graft.operators.Dedup.cutRepeatedSpans(d, "doc_id", "text", n = 8)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // doc 1 owns every shared gram (min id) -> verbatim pass-through
    assert(got(1L) == s"alpha beta $shared gamma delta epsilon zeta eta theta iota")
    // doc 2 loses tokens 6..17 (the shared run), keeps the rest joined
    assert(got(2L) == "one two three four five six seven eight nine ten")
    // untouched doc passes through with original case and spacing
    assert(got(4L) == "Completely Unrelated  Text untouched HERE")
  }

  test("chunkTokens: stride/overlap arithmetic, short tail, empty docs") {
    val d = Seq(
      (1L, "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9"),
      (2L, null: String),
      (3L, "   "),
      (5L, "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9 t10")
    ).toDF("doc_id", "text")
    val got = graft.operators.TextStats
      .chunkTokens(d, "doc_id", "text", size = 4, overlap = 1)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .toSet
    // step 3: starts 0,3,6 — consecutive chunks share 1 token; start 9
    // is SKIPPED (chunk "t9" would be a strict subset of "t6..t9");
    // NULL and blank docs emit nothing
    assert(got == Set(
      (1L, 0L, "t0 t1 t2 t3", 4L),
      (1L, 1L, "t3 t4 t5 t6", 4L),
      (1L, 2L, "t6 t7 t8 t9", 4L),
      // 11 tokens: the tail chunk carries a NEW token (t10) and is kept
      (5L, 0L, "t0 t1 t2 t3", 4L),
      (5L, 1L, "t3 t4 t5 t6", 4L),
      (5L, 2L, "t6 t7 t8 t9", 4L),
      (5L, 3L, "t9 t10", 2L)))
    intercept[IllegalArgumentException] {
      graft.operators.TextStats.chunkTokens(d, "doc_id", "text",
        size = 4, overlap = 4)
    }
  }

  test("leading tab/newline: kernel positions and words() indexes agree " +
       "(no phantom empty token)") {
    val shared = (1 to 10).map(i => s"tok$i").mkString(" ")
    val d = Seq(
      (1L, s"$shared trailing words here"),
      // leading tab + newline: trim strips SPACES only, so a bare regex
      // split would emit a phantom "" first token and shift indexes
      (2L, s"\t\n$shared other trailing content")
    ).toDF("doc_id", "text")
    val spans = graft.operators.Dedup.repeatedSpans(d, "doc_id", "text", n = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // both docs: shared run = tokens 0..9, grams 0..2, span 0..9
    assert(spans == Set((1L, 0L, 9L), (2L, 0L, 9L)))
    val cut = graft.operators.Dedup.cutRepeatedSpans(d, "doc_id", "text", n = 8)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(cut(1L) == s"$shared trailing words here") // owner, verbatim
    assert(cut(2L) == "other trailing content")       // run cut exactly
  }

  test("positional gram hashes: one hash per position, equal grams " +
       "hash equal, short docs empty") {
    val d = Seq(
      (1L, "a b c a b c d"),   // gram@0 == gram@3 ("a b c")
      (2L, "x y"),             // shorter than n -> no grams
      (3L, "A  B\tC")          // case/whitespace-normalized == "a b c"
    ).toDF("doc_id", "text")
    val rows = d.select(col("doc_id"),
        graft.operators.Dedup.positionalGramHashes(col("text"), 3).as("hs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(rows(1L).length == 5)           // 7 tokens, n=3 -> 5 positions
    assert(rows(1L)(0) == rows(1L)(3))     // repeated gram, same hash
    assert(rows(1L).distinct.length == 4)  // the other 4 grams distinct
    assert(rows(2L).isEmpty)
    assert(rows(3L) == Seq(rows(1L)(0)))   // normalization matches
  }

  test("repeatedSpans shuffles gram hashes, never gram text") {
    val d = Seq((1L, "a b c d e f g h i"), (2L, "a b c d e f g h j"))
      .toDF("doc_id", "text")
    val plan = graft.operators.Dedup.repeatedSpans(d, "doc_id", "text", n = 8)
      .queryExecution.executedPlan.toString
    assert(plan.contains("hashpartitioning(g#"), plan)
    assert(!plan.contains("hashpartitioning(text#"), plan)
  }

  test("decontamination size gate: a small filtered slice of a large " +
       "frame still broadcasts (measured-bytes second tier)") {
    // Spark's size-only estimator passes a parent's size THROUGH
    // filters, so this eval slice's ESTIMATE is the full range's size
    // (well over the 2 KB threshold below) while its actual bytes are a
    // few hundred. The gate must spend the measurement job and keep the
    // broadcast rather than degrade to shuffling the train side.
    val bigSource = spark.range(0, 50000)
      .select((col("id") + 100L).as("doc_id"),
        concat(lit("the quick brown fox jumps over the lazy dog row "),
          col("id")).as("text"))
    val slice = bigSource.where(col("doc_id") % 10000L === 1L) // 5 rows
    val est = slice.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(est > 2048, s"premise: estimate must exceed the threshold ($est)")
    spark.conf.set(graft.operators.Dedup.TestBroadcastMaxBytesConf, "2048")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = graft.operators.Dedup
        .crossCorpusDupPairs(docs, slice, "doc_id", "text", threshold = 0.8)
        .queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastExchange"), plan)
    } finally {
      spark.conf.unset(graft.operators.Dedup.TestBroadcastMaxBytesConf)
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("decontamination size gate: oversized test side degrades to a shuffle join") {
    val test = Seq(
      (101L, "the quick brown fox jumps over the lazy dog near the river delta"),
      (102L, "unrelated words about databases indexes and storage formats")
    ).toDF("doc_id", "text")
    def run() = graft.operators.Dedup
      .crossCorpusDupPairs(docs, test, "doc_id", "text", threshold = 0.6)
    val expected = run().collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(expected.nonEmpty)
    // threshold 0 forces the "test corpus too big" branch; kill Spark's
    // own stats-based broadcast too so the asserted shape is the real
    // at-scale fallback, not a tiny-test-input artifact
    spark.conf.set(graft.operators.Dedup.TestBroadcastMaxBytesConf, "0")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val gated = run()
      val plan = gated.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastExchange"), plan)
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"), plan)
      assert(gated.collect().map(r => (r.getLong(0), r.getLong(1))).toSet == expected)
      val nplan = graft.operators.Dedup
        .ngramHitContamination(docs, test, "doc_id", "text", n = 5)
        .queryExecution.executedPlan.toString
      assert(!nplan.contains("BroadcastExchange"), nplan)
    } finally {
      spark.conf.unset(graft.operators.Dedup.TestBroadcastMaxBytesConf)
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("crossCorpusDupPairs matches brute-force cross jaccard (randomized)") {
    // random docs over a tiny vocabulary so cross-corpus similarity is
    // common; high threshold keeps LSH recall (64/16 banding) certain
    val rnd = new scala.util.Random(11)
    val vocab = Vector("alpha", "beta", "gamma", "delta")
    def doc() = Seq.fill(8 + rnd.nextInt(5))(vocab(rnd.nextInt(vocab.size)))
      .mkString(" ")
    val train = (1L to 30L).map(i => (i, doc()))
    val test = (101L to 115L).map(i => (i, doc()))
    def shingles(t: String): Set[String] = {
      val ws = t.split("\\s+").toSeq
      if (ws.size >= 3) ws.sliding(3).map(_.mkString(" ")).toSet
      else Set(ws.mkString(" "))
    }
    val expected = (for {
      (ti, tt) <- train; (ei, et) <- test
      a = shingles(tt); b = shingles(et)
      j = a.intersect(b).size.toDouble / a.union(b).size.toDouble
      if j >= 0.9
    } yield (ti, ei)).toSet
    val got = graft.operators.Dedup
      .crossCorpusDupPairs(train.toDF("doc_id", "text"),
        test.toDF("doc_id", "text"), "doc_id", "text", threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected)
  }

  private def vecs: Seq[(Long, Seq[Float])] = {
    val rnd = new scala.util.Random(3)
    (0L until 50L).map(i => i -> Seq.fill(16)(rnd.nextFloat() * 2 - 1))
  }

  test("cosineTopK matches a driver-side brute force") {
    val df = vecs.toDF("vec_id", "embedding")
    val q = vecs.head._2.toArray
    val got = Similarity.cosineTopK(df, "vec_id", "embedding", q, 5)
      .collect().map(_.getLong(0)).toSeq
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      dot / (math.sqrt(a.map(x => x.toDouble * x).sum) *
        math.sqrt(b.map(x => x.toDouble * x).sum))
    }
    val exp = vecs.map { case (id, v) => (id, cos(v, q.toSeq)) }
      .sortBy { case (id, s) => (-s, id) }.take(5).map(_._1)
    assert(got == exp)
    assert(got.head == 0L) // self-similarity = 1
  }

  test("lshTopK retrieves the query vector itself at rank 1") {
    val df = vecs.toDF("vec_id", "embedding")
    val q = vecs.head._2.toArray
    val got = Similarity.lshTopK(df, "vec_id", "embedding", q, 5)
      .collect().map(_.getLong(0)).toSeq
    assert(got.nonEmpty && got.head == 0L)
  }

  test("embeddingDupPairs finds planted near-dups, nothing else") {
    // 50 random 16-dim vectors (pairwise cos far below 0.9) + near copies
    // of ids 0/10/20 (last element halved) and one exact copy of id 5
    val base = vecs
    val planted = Seq(0L, 10L, 20L).map { id =>
      val v = base(id.toInt)._2
      (id + 100L) -> (v.init :+ (v.last * 0.5f))
    } :+ ((105L, base(5)._2))
    val df = (base ++ planted).toDF("vec_id", "embedding")
    val got = graft.operators.Dedup
      .embeddingDupPairs(df, "vec_id", "embedding", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((0L, 100L), (10L, 110L), (20L, 120L), (5L, 105L)))
  }

  test("unigramLogProb matches a hand-computed corpus LM; empty docs drop") {
    val corpus = Seq(
      (1L, "a a b"),
      (2L, "b c"),
      (3L, "   "),
      (4L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    // counts: a=2, b=2, c=1; total=5
    def lp(cnt: Double) = math.log(cnt / 5.0)
    def r6(d: Double) =
      BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = TextStats.unigramLogProb(corpus, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.keySet == Set(1L, 2L)) // 3/4 tokenless → no row
    assert(got(1L) == r6((lp(2) + lp(2) + lp(2)) / 3.0))
    assert(got(2L) == r6((lp(2) + lp(1)) / 2.0))
  }

  test("unigramLogProb joins the vocab broadcast — token rows never sort-merge") {
    val plan = TextStats.unigramLogProb(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"))
    assert(!plan.contains("SortMergeJoin"),
      "the token stream must never shuffle on the term key")
  }

  test("bpePairCounts: vocab-weighted adjacent pairs, deterministic top-k") {
    val corpus = Seq(
      "abab abab cd", // "abab" ×2 in one doc
      "abab x9 AB a" // lowercased first: "AB"→"ab" counts; "x9"/"a" filtered
    ).toDF("text")
    // vocab: abab ×3 → ab=6, ba=3; ab(word) ×1 → ab=7; cd ×1 ⇒ cd=1
    val got = TextStats.bpePairCounts(corpus, "text", k = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set(("ab", 7L, 1L), ("ba", 3L, 2L)))
  }
}
