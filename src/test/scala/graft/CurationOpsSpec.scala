package graft

import graft.ops.{Dedup, TextAnalysis}
import org.apache.spark.sql.functions._

/** Semantic properties of the corpus-curation operators (q78–q80) that
  * the row-compare oracle can't articulate. */
class CurationOpsSpec extends SparkSpec {

  test("first-occurrence packing: exact unpack in bounds, loud failure out of bounds (ADVICE r16 item 2)") {
    import spark.implicits._
    import graft.ops.Curation
    def firstOcc(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(col("g")).agg(Curation.firstOccAggs.head, Curation.firstOccAggs.tail: _*)
        .select(col("g"), Curation.firstOccField("doc").as("doc"),
          Curation.firstOccField("pos").as("pos"))
    // the packed min equals lexicographic min(doc_id, pos), including at
    // the exact corner of the domain (packed value = Long.MaxValue)
    val ok = Seq((1L, 7L, 5), (1L, 3L, 9), (1L, 3L, 2),
      (2L, (1L << 37) - 1, (1 << 26) - 1)).toDF("g", "doc_id", "pos")
    val got = firstOcc(ok).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2)))).toMap
    assert(got(1L) == ((3L, 2)), s"got ${got(1L)}")
    assert(got(2L) == (((1L << 37) - 1, (1 << 26) - 1)), s"got ${got(2L)}")
    // one past either bound must raise, never publish a wrong exemplar
    val badPos = Seq((1L, 1L, 1 << 26)).toDF("g", "doc_id", "pos")
    intercept[Exception] { firstOcc(badPos).collect() }
    val badDoc = Seq((1L, 1L << 37, 0)).toDF("g", "doc_id", "pos")
    intercept[Exception] { firstOcc(badDoc).collect() }
  }

  test("decontamination: flagged docs really share a shingle with eval; counts add up") {
    val sh = Dedup.shingles(spark, sf)
      .withColumn("eval", md5(col("doc_id").cast("string")) >= "e6")
    val evalShingles = sh.filter(col("eval")).select("shingle").distinct()
      .collect().map(_.getString(0)).toSet
    val trainShingles = sh.filter(!col("eval"))
      .collect().map(r => r.getLong(0) -> r.getString(1))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val rep = TextAnalysis.decontaminate(spark, sf).collect()
    val nTrain = rep.map(_.getLong(1)).sum
    val nCont = rep.map(_.getLong(2)).sum
    val nClean = rep.map(_.getLong(3)).sum
    assert(nTrain == nCont + nClean, "partition must be exact")
    // ground truth from the raw shingle sets
    val trueCont = trainShingles.count { case (_, s) => s.exists(evalShingles) }
    assert(nCont == trueCont, s"flagged $nCont docs, ground truth $trueCont")
  }

  test("token-budget mix: the smallest language keeps everything, others are cut") {
    val rows = TextAnalysis.tokenBudgetMix(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(2), r.getDouble(3), r.getLong(5))).toSeq
    val minLangToks = rows.map(_._2).min
    rows.foreach { case (lang, langToks, frac, keptToks) =>
      if (langToks == minLangToks)
        assert(frac == 1.0, s"smallest language $lang must keep everything")
      assert(keptToks <= langToks, s"$lang kept more tokens than it has")
      // hash sampling is approximate: kept mass should land near the
      // budget, never above ~2x (uniform md5 on >= 25 docs per stratum)
      assert(keptToks <= 2 * minLangToks,
        s"$lang kept $keptToks tokens vs budget $minLangToks")
    }
  }

  test("corpus-build funnel gates are monotone per language") {
    TextAnalysis.corpusBuildFunnel(spark, sf).collect().foreach { r =>
      val stages = (1 to 6).map(r.getLong)
      assert(stages.zip(stages.tail).forall { case (a, b) => a >= b },
        s"survivor counts must be non-increasing through the gates: $r")
      assert(stages.head > 0, "train split must be non-empty")
    }
  }

  test("count-min sketch never underestimates; exact on uncollided probes") {
    val exact = graft.Tables.documents(spark, sf)
      .select(explode(split(Dedup.normText(col("text")), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("tok")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val est = TextAnalysis.heavyHitters(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est.nonEmpty)
    est.foreach { case (tok, e) =>
      assert(e >= exact.getOrElse(tok, 0L),
        s"CMS underestimated '$tok': $e < ${exact.getOrElse(tok, 0L)}")
    }
    // the heavy stopword must dominate the absent token's estimate
    assert(est("the") > est("zqxjk"))
  }

  test("repetition score: ratio bounds and the repeated-text fixture behaves") {
    import spark.implicits._
    val rows = TextAnalysis.repetitionScore(spark, sf).collect()
    rows.foreach { r =>
      val ratio = r.getDouble(4)
      assert(ratio >= 0.0 && ratio < 1.0, s"ratio out of range: $r")
    }
    // a synthetic heavily-repeated doc must be flagged, a diverse one not —
    // run the same expressions over a local fixture through the SQL path
    val fx = Seq((1L, "en", "spam spam spam spam spam spam spam spam"),
                 (2L, "en", "one two three four five six seven eight"))
      .toDF("doc_id", "lang", "text")
    fx.createOrReplaceTempView("fixture_docs")
    val grams = fx
      .withColumn("toks", split(Dedup.normText(col("text")), " "))
      .withColumn("grams", expr(
        "transform(sequence(0, size(toks)-2), i -> concat_ws(' ', toks[i], toks[i+1]))"))
      .select(col("doc_id"),
        (lit(1.0) - size(array_distinct(col("grams"))).cast("double") / size(col("grams")))
          .as("ratio"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(grams(1L) > 0.2, "all-spam doc must exceed the repetition gate")
    assert(grams(2L) == 0.0, "all-distinct doc must score zero")
  }

  test("domain reservoir: per-source cap respected and equals the window form") {
    val k = 4
    val out = graft.ops.Curation.domainReservoir(spark, sf, k)
    val perSource = out.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val avail = Tables.documents(spark, sf).groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    avail.foreach { case (s, n) =>
      assert(perSource.getOrElse(s, 0L) == math.min(k.toLong, n),
        s"source $s: got ${perSource.get(s)}, want min($k, $n)")
    }
    // the TopKAgg reservoir must equal the naive window top-k — the
    // map-side-partial plan is an optimization, not a semantics change
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("source"))
      .orderBy(col("h"), col("doc_id"))
    val windowed = Tables.documents(spark, sf)
      .select(col("source"), col("doc_id"), expr(
        "CAST(conv(substring(md5(concat(source, ':', CAST(doc_id AS STRING))), 1, 12), 16, 10) AS BIGINT)")
        .as("h"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select("source", "doc_id")
    assertSameRows(out, windowed)
  }

  test("vocab encode: top-V ids decode to the normalized text; tail tokens are OOV 0") {
    val V = graft.ops.Curation.VocabSize
    val out = graft.ops.Curation.vocabEncode(spark, sf)
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), graft.ops.Dedup.normText(col("text")).as("norm"))
    // rebuild the capped vocab exactly as the operator defines it
    val vocab = docs.select(explode(split(col("norm"), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy("tok").count()
      .collect().map(r => r.getString(0) -> r.getLong(1))
    val byRank = vocab.sortBy { case (t, c) => (-c, t) }.map(_._1)
    assert(byRank.length > V, "fixture must have tail tokens so the OOV path is exercised")
    val top = byRank.take(V)
    val idToTok = top.zipWithIndex.map { case (t, i) => (i + 1).toString -> t }.toMap
    val inVocab = top.toSet
    val joined = out.join(docs, "doc_id").collect()
    var oovSeen = 0L
    joined.foreach { r =>
      val ids = r.getAs[String]("ids").split(",")
      val toks = r.getAs[String]("norm").split(" ").filter(_.nonEmpty)
      assert(ids.length == toks.length && ids.length == r.getAs[Long]("n_tok"))
      ids.zip(toks).foreach { case (id, tok) =>
        if (inVocab(tok)) assert(idToTok(id) == tok, s"decode mismatch for doc ${r.getAs[Long]("doc_id")}")
        else { assert(id == "0", s"tail token '$tok' must encode as OOV 0"); oovSeen += 1 }
      }
    }
    assert(oovSeen > 0, "at least one OOV instance must occur")
  }

  test("q131 chi-square drift equals a first-principles recomputation") {
    val rows = Tables.documents(spark, sf)
      .select(org.apache.spark.sql.functions.col("source"),
        org.apache.spark.sql.functions.col("lang")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val nTotal = rows.length.toDouble
    val byLang = rows.groupBy(_._2).view.mapValues(_.length).toMap
    val got = graft.ops.TextAnalysis.langDrift(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getBoolean(3)))
      .toMap
    rows.groupBy(_._1).foreach { case (src, docs) =>
      val nSrc = docs.length
      // same fold order as the query: terms sorted by lang
      val chi2 = docs.groupBy(_._2).toSeq.sortBy(_._1).map { case (lang, ds) =>
        val e = nSrc.toDouble * byLang(lang).toDouble / nTotal
        (ds.length.toDouble - e) * (ds.length.toDouble - e) / e
      }.foldLeft(0.0)(_ + _)
      val want = BigDecimal(chi2).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble
      val (n, gChi2, drifted) = got(src)
      assert(n == nSrc, s"$src n")
      assert(gChi2 == want, s"$src chi2 $gChi2 vs $want")
      assert(drifted == (gChi2 > 7.815), s"$src flag")
    }
  }

  test("q120 scrubbed output is marker-free and counts match the planting") {
    val rows = graft.ops.TextAnalysis.piiScrub(spark, sf).collect()
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}".r
    val ip = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b".r
    val num = "\\d{9,}".r
    rows.foreach { r =>
      val id = r.getLong(0)
      val scrubbed = r.getString(4)
      // nothing PII-shaped survives the scrub
      assert(email.findFirstIn(scrubbed).isEmpty, s"email left in doc $id")
      assert(ip.findFirstIn(scrubbed).isEmpty, s"ip left in doc $id")
      assert(num.findFirstIn(scrubbed).isEmpty, s"digit run left in doc $id")
      // counts reflect the deterministic planting (the raw corpus itself
      // carries none of these classes)
      assert(r.getLong(1) == (if (id % 7 == 0) 1 else 0), s"n_email doc $id")
      assert(r.getLong(2) == (if (id % 11 == 0) 1 else 0), s"n_ip doc $id")
      assert(r.getLong(3) == (if (id % 13 == 0) 1 else 0), s"n_num doc $id")
      // and the planted markers became their class tokens
      if (id % 7 == 0) assert(scrubbed.contains("<EMAIL>"))
      if (id % 11 == 0) assert(scrubbed.contains("<IP>"))
      if (id % 13 == 0) assert(scrubbed.contains("<NUM>"))
    }
  }

  test("gopher rules (q142): features match ground truth and the word-count gate discriminates") {
    val stopEn = Set("the", "a", "of", "and", "to", "in", "is")
    val out = graft.ops.TextAnalysis.gopherRules(spark, sf).collect()
      .map(r => r.getLong(0) -> r).toMap
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), lower(trim(regexp_replace(col("text"), "\\s+", " "))))
      .collect().map(r => r.getLong(0) -> r.getString(1).split(" ").toSeq).toMap
    docs.foreach { case (id, toks) =>
      val r = out(id)
      val nWords = toks.length.toLong
      assert(r.getAs[Long]("n_words") == nWords, s"doc $id n_words")
      val meanLen = toks.map(_.length).sum.toDouble / nWords
      assert(math.abs(r.getAs[Double]("mean_word_len") - meanLen) < 1e-12, s"doc $id mwl")
      val fracAlpha = toks.count(_.exists(c => c >= 'a' && c <= 'z')).toDouble / nWords
      assert(math.abs(r.getAs[Double]("frac_alpha_words") - fracAlpha) < 1e-12, s"doc $id alpha")
      val nStop = toks.toSet.count(stopEn)
      assert(r.getAs[Long]("n_stop_distinct") == nStop, s"doc $id stopwords")
      assert(r.getAs[Boolean]("r_word_count") == (nWords >= 50 && nWords <= 100000))
      val expectPass = (nWords >= 50 && nWords <= 100000) &&
        meanLen >= 3.0 && meanLen <= 10.0 && fracAlpha >= 0.8 &&
        r.getAs[Double]("symbol_ratio") <= 0.1 && nStop >= 2
      assert(r.getAs[Boolean]("pass") == expectPass, s"doc $id pass")
    }
    // the canonical 50-word floor must genuinely split this corpus
    val passes = out.values.map(_.getAs[Boolean]("r_word_count")).toSet
    assert(passes == Set(true, false), "fixture must discriminate on word count")
  }

  test("substring dedup (q133): coverage and cut match an in-memory ground truth") {
    val L = 8
    val out = graft.ops.Curation.substringDedup(spark, sf, L).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    // independent ground truth: pure-Scala L-gram multiset over the same
    // normalization, interval unions computed set-wise (no windows)
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), lower(trim(regexp_replace(col("text"), "\\s+", " "))))
      .collect().map(r => r.getLong(0) -> r.getString(1).split(" ").toSeq).toMap
    val occ = for {
      (id, toks) <- docs.toSeq
      i <- 0 to toks.length - L
    } yield (toks.slice(i, i + L).mkString(" "), id, i)
    val byGram = occ.groupBy(_._1).filter(_._2.size > 1)
    val firstOf = byGram.view.mapValues(_.map(o => (o._2, o._3)).min).toMap
    val dupPos = byGram.values.flatten
      .flatMap { case (_, id, i) => (i until i + L).map(id -> _) }.toSet
    val cutPos = byGram.toSeq.flatMap { case (g, os) =>
      os.filter(o => (o._2, o._3) != firstOf(g))
        .flatMap { case (_, id, i) => (i until i + L).map(id -> _) }
    }.toSet
    assert(out.nonEmpty && dupPos.nonEmpty, "fixture must exercise the operator")
    docs.foreach { case (id, toks) =>
      val (nTok, dupTok, cutTok, nSpans) = out(id)
      assert(nTok == toks.length, s"doc $id token count")
      val truthDup = dupPos.count(_._1 == id)
      val truthCut = cutPos.count(_._1 == id)
      assert(dupTok == truthDup, s"doc $id dup coverage: got $dupTok want $truthDup")
      assert(cutTok == truthCut, s"doc $id cut coverage: got $cutTok want $truthCut")
      // spans are maximal unions of L-intervals: each is >= L tokens long
      assert(dupTok >= nSpans * L, s"doc $id spans too short: $nSpans spans, $dupTok tokens")
      assert(cutTok <= dupTok && dupTok <= nTok, s"doc $id containment")
      // count maximal runs in the truth position set
      val ps = dupPos.collect { case (d, p) if d == id => p }.toSeq.sorted
      val runs = ps.indices.count(j => j == 0 || ps(j) != ps(j - 1) + 1)
      assert(nSpans == runs, s"doc $id span count: got $nSpans want $runs")
    }
  }

  test("substring apply (q138): kept text matches ground truth; conservation vs q133") {
    val L = 8
    val out = graft.ops.Curation.substringDedupApply(spark, sf, L).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3)))
      .toMap
    val acct = graft.ops.Curation.substringDedup(spark, sf, L).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(3))) // n_tok, cut_tok
      .toMap
    // same pure-Scala ground truth as the q133 spec: keep-first cut set
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), lower(trim(regexp_replace(col("text"), "\\s+", " "))))
      .collect().map(r => r.getLong(0) -> r.getString(1).split(" ").toSeq).toMap
    val occ = for {
      (id, toks) <- docs.toSeq
      i <- 0 to toks.length - L
    } yield (toks.slice(i, i + L).mkString(" "), id, i)
    val byGram = occ.groupBy(_._1).filter(_._2.size > 1)
    val firstOf = byGram.view.mapValues(_.map(o => (o._2, o._3)).min).toMap
    val cutPos = byGram.toSeq.flatMap { case (g, os) =>
      os.filter(o => (o._2, o._3) != firstOf(g))
        .flatMap { case (_, id, i) => (i until i + L).map(id -> _) }
    }.toSet
    assert(cutPos.nonEmpty, "fixture must exercise the operator")
    docs.foreach { case (id, toks) =>
      val (nTok, keptTok, text) = out(id)
      assert(nTok == toks.length, s"doc $id token count")
      // conservation law vs the q133 accounting
      val (n133, cut133) = acct(id)
      assert(nTok == n133 && keptTok == n133 - cut133,
        s"doc $id conservation: kept $keptTok != ${n133 - cut133}")
      // the kept text IS the tokens outside the cut set, in order
      val truth = toks.zipWithIndex
        .collect { case (t, i) if !cutPos(id -> i) => t }
      assert(text == truth.mkString(" "), s"doc $id rebuilt text")
      assert(keptTok == truth.size, s"doc $id kept count")
    }
  }

  test("decontam apply (q152): cut set matches ground truth; train docs only") {
    val L = 8
    val out = graft.ops.Curation.decontamSpanApply(spark, sf, L).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3)))
      .toMap
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), lower(trim(regexp_replace(col("text"), "\\s+", " "))))
      .collect().map(r => r.getLong(0) -> r.getString(1).split(" ").toSeq)
    val (evalD, trainD) = docs.partition { case (id, _) => md5hex(id.toString) >= "e6" }
    assert(evalD.nonEmpty && trainD.nonEmpty, "the md5 split must cut both ways")
    val evalGrams = evalD.flatMap { case (_, toks) =>
      toks.sliding(L).filter(_.size == L).map(_.mkString(" "))
    }.toSet
    val cutPos = trainD.flatMap { case (id, toks) =>
      (0 to toks.length - L)
        .filter(i => evalGrams(toks.slice(i, i + L).mkString(" ")))
        .flatMap(i => (i until i + L).map(id -> _))
    }.toSet
    assert(cutPos.nonEmpty, "fixture must exercise the operator")
    assert(out.keySet == trainD.map(_._1).toSet,
      "output must be exactly the train docs — eval never emitted, clean docs never dropped")
    trainD.foreach { case (id, toks) =>
      val (nTok, keptTok, text) = out(id)
      assert(nTok == toks.length, s"doc $id token count")
      val truth = toks.zipWithIndex.collect { case (t, i) if !cutPos(id -> i) => t }
      assert(text == truth.mkString(" "), s"doc $id rebuilt text")
      assert(keptTok == truth.size, s"doc $id kept count")
    }
  }

  test("decontam apply (q152): planted contamination excised, clean doc verbatim") {
    import spark.implicits._
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // pick ids on each side of the operator's own split rule
    val ids = 0L until 200L
    val evalId = ids.find(id => md5hex(id.toString) >= "e6").get
    val trainIds = ids.filter(id => md5hex(id.toString) < "e6").take(2)
    val passage = (1 to 8).map(i => s"copy$i").mkString(" ")
    val df = Seq(
      (evalId, s"$passage tail1 tail2"),
      (trainIds(0), s"lead1 lead2 $passage end1 end2"),
      (trainIds(1), "clean doc with no shared grams at all here")
    ).toDF("doc_id", "text")
    val out = graft.ops.Curation.decontamApplyOf(df, 8).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3)))
      .toMap
    assert(out.keySet == trainIds.toSet, "exactly the train docs come back")
    // the planted 8-gram (and only it) is excised
    assert(out(trainIds(0)) == ((12L, 4L, "lead1 lead2 end1 end2")),
      s"contaminated doc: ${out(trainIds(0))}")
    // an uncontaminated doc passes through verbatim
    assert(out(trainIds(1)) == ((9L, 9L, "clean doc with no shared grams at all here")),
      s"clean doc: ${out(trainIds(1))}")
  }

  test("cdc chunks (q154): boundaries, fingerprints and counts match ground truth") {
    val D = 8
    val out = graft.ops.Curation.cdcChunks(spark, sf, D).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getString(4), r.getLong(5)))
      .toMap
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def anchors(toks: Seq[String]): Seq[Int] =
      0 +: (1 until toks.length).filter { j =>
        java.lang.Long.parseLong(md5hex(s"${toks(j - 1)} ${toks(j)}").take(15), 16) % D == 0
      }
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), lower(trim(regexp_replace(col("text"), "\\s+", " "))))
      .collect().map(r => r.getLong(0) -> r.getString(1).split(" ").toSeq)
    val truth = docs.flatMap { case (id, toks) =>
      val ss = anchors(toks)
      ss.zipWithIndex.map { case (s, k) =>
        val end = if (k == ss.length - 1) toks.length else ss(k + 1)
        (id, k.toLong) -> (s.toLong, (end - s).toLong,
          md5hex(toks.slice(s, end).mkString(" ")))
      }
    }.toMap
    val fpCount = truth.values.groupBy(_._3).view.mapValues(_.size.toLong).toMap
    assert(out.keySet == truth.keySet, "chunk id space must match")
    assert(truth.exists(_._2._2 > 1) && fpCount.values.exists(_ > 1),
      "fixture must produce multi-token chunks and shared fingerprints")
    truth.foreach { case (k, (s, len, fp)) =>
      assert(out(k) == ((s, len, fp, fpCount(fp))), s"chunk $k: ${out(k)}")
    }
  }

  test("cdc chunks (q154): a front insertion perturbs ONE chunk — the content-defined law") {
    import spark.implicits._
    val D = 8
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val base = (0 until 60).map(i => s"w$i")
    def anchorCount(toks: Seq[String]) = (1 until toks.length).count { j =>
      java.lang.Long.parseLong(md5hex(s"${toks(j - 1)} ${toks(j)}").take(15), 16) % D == 0
    }
    // fixture preconditions, asserted rather than assumed: the base doc
    // has interior anchors, and the inserted token creates none (chosen
    // by searching, since any fixed literal can anchor by md5 luck)
    assert(anchorCount(base) >= 2, s"base doc needs >= 2 anchors, has ${anchorCount(base)}")
    val ins = (0 until 64).map(i => s"x$i").find { t =>
      java.lang.Long.parseLong(md5hex(s"$t ${base.head}").take(15), 16) % D != 0
    }.get
    val df = Seq(
      (1L, base.mkString(" ")),
      (2L, (ins +: base).mkString(" "))
    ).toDF("doc_id", "text")
    val chunks = graft.ops.Curation.cdcChunksOf(df, D).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(4)))
    val fpsA = chunks.collect { case (1L, k, fp) => k -> fp }.sortBy(_._1).map(_._2).toSeq
    val fpsB = chunks.collect { case (2L, k, fp) => k -> fp }.sortBy(_._1).map(_._2).toSeq
    assert(fpsA.size == fpsB.size && fpsA.size >= 3,
      s"same boundary structure: ${fpsA.size} vs ${fpsB.size}")
    // every chunk except the edited first one fingerprints identically —
    // the fixed grid (q89) would share ZERO fingerprints after the shift
    assert(fpsA.tail == fpsB.tail, "all post-edit chunks must be content-identical")
    assert(fpsA.head != fpsB.head, "the edited chunk must re-fingerprint")
  }

  test("cdc chunks (q154): a corpus-hot fingerprint counts correctly through the window") {
    import spark.implicits._
    // the disclosed degenerate case of the r18 single-exchange design:
    // one fingerprint owning corpus-mass lands ENTIRELY in one hash
    // partition of the chunk_fp exchange, where the occurrence count
    // is a window (sort + count over the partition) rather than a
    // hash aggregate. 200 identical docs make every fp 200×-hot;
    // within-doc repeats (the doc is w0..w9 twice) multiply further.
    val D = 8
    val body = ((0 until 10) ++ (0 until 10)).map(i => s"w$i").mkString(" ")
    val df = (0L until 200L).map(id => (id, body)).toDF("doc_id", "text")
    val rows = graft.ops.Curation.cdcChunksOf(df, D).collect()
      .map(r => (r.getLong(0), r.getString(4), r.getLong(5)))
    val perDoc = rows.filter(_._1 == 0L).map(_._2)
    assert(perDoc.nonEmpty)
    // identical docs ⇒ identical chunk structure; global occurrence =
    // 200 × the fp's within-doc multiplicity, for EVERY row
    val mult = perDoc.groupBy(identity).view.mapValues(_.size).toMap
    rows.foreach { case (id, fp, n) =>
      assert(n == 200L * mult(fp), s"doc $id fp $fp: n_occ $n != ${200 * mult(fp)}")
    }
  }

  test("cdc chunks (q189): the heavy-hitter guard is plan-only — salted+broadcast equals the pure window") {
    import spark.implicits._
    import graft.ops.Curation
    // planted-hot corpus (200 identical docs — every shared fp 200×-hot)
    // PLUS unique docs, so the broadcast-count path and the light-tail
    // window BOTH exercise in one run and must agree row-for-row with
    // the guard-off r18 window shape
    val body = ((0 until 10) ++ (0 until 10)).map(i => s"w$i").mkString(" ")
    val docs = ((0L until 200L).map(id => (id, body)) ++
      (200L until 260L).map(id =>
        (id, (0 until 25).map(j => s"u${id}x$j").mkString(" "))))
      .toDF("doc_id", "text")
    def rowsOf(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4), r.getLong(5))).sortBy(t => (t._1, t._2))
    val guardOff = Curation.cdcChunksOf(docs, 8, hotMinOcc = -1L)
    val guarded = Curation.cdcChunksOf(docs, 8, hotMinOcc = 2L,
      sampleFraction = 1.0)
    // the guard actually engaged: hot counts broadcast back, rows salted
    val p = guarded.queryExecution.executedPlan.toString()
    assert(p.contains("BroadcastHashJoin") && p.contains("salt"),
      s"forced guard must salt and broadcast:\n$p")
    assert(rowsOf(guarded).toSeq == rowsOf(guardOff).toSeq,
      "guarded output must equal the pure-window output row-for-row")
    // and the light tail is really windowed: unique docs' fps count 1
    assert(rowsOf(guarded).filter(_._1 >= 200L).forall(_._6 == 1L),
      "unique docs' fingerprints must count exactly once")
  }

  test("cdc chunks (q154): detect/no-detect at the exact threshold boundary — the guard is a plan choice either way") {
    import spark.implicits._
    import graft.ops.Curation
    // one fp occurs exactly 6 times (3 identical docs, body repeats its
    // chunk structure twice); with exact detection the guard must engage
    // at hotMinOcc = 6 and stay dormant at 7 — and both plans must agree
    // row-for-row (a miss is a perf event, never a correctness event)
    val body = ((0 until 10) ++ (0 until 10)).map(i => s"w$i").mkString(" ")
    val docs = ((0L until 3L).map(id => (id, body)) ++
      (10L until 14L).map(id => (id, (0 until 25).map(j => s"u${id}x$j").mkString(" "))))
      .toDF("doc_id", "text")
    val hotCount = Curation.cdcChunksOf(docs, 8, hotMinOcc = -1L)
      .collect().map(_.getLong(5)).max
    val atBoundary = Curation.cdcChunksOf(docs, 8,
      hotMinOcc = hotCount, sampleFraction = 1.0)
    val aboveBoundary = Curation.cdcChunksOf(docs, 8,
      hotMinOcc = hotCount + 1L, sampleFraction = 1.0)
    assert(atBoundary.queryExecution.executedPlan.toString().contains("salt"),
      "a fp AT the threshold must engage the guard (detection is >= hotMin)")
    assert(!aboveBoundary.queryExecution.executedPlan.toString().contains("salt"),
      "a fp below the threshold must leave the r18 window plan untouched")
    assertSameRows(atBoundary, aboveBoundary)
  }

  test("hot-key guard engagement: AUTO needs width past the session AND more than one core; forced and off ignore both") {
    import graft.ops.Curation.guardEngages
    // AUTO (0): the corpus-width boundary, but never on one core, where
    // salting has nothing to spread (q154 ran 2x slower guarded there)
    assert(guardEngages(0L, w = 8, sessionParts = 4, cores = 4))
    assert(!guardEngages(0L, w = 4, sessionParts = 4, cores = 4))
    assert(!guardEngages(0L, w = 2, sessionParts = 1, cores = 1))
    assert(!guardEngages(0L, w = 64, sessionParts = 1, cores = 1))
    assert(guardEngages(0L, w = 3, sessionParts = 2, cores = 2))
    // forced (> 0, the q189-q193 twins) engages at any width and core
    // count; off (< 0, the probes' guard-off arm) never does
    for (w <- Seq(1, 4, 64); cores <- Seq(1, 4)) {
      assert(guardEngages(5L, w, sessionParts = 4, cores))
      assert(!guardEngages(-1L, w, sessionParts = 4, cores))
    }
  }

  test("hot-key detection: mega-doc screen catches a doc-concentrated key that sampling misses (ADVICE r19)") {
    import spark.implicits._
    import graft.ops.Curation
    // hotMin = 400 → screen bound = 100 chars. One 180-char doc carries
    // 60 occurrences of k0 (doc-CONCENTRATED: sampling at f = 1e-6
    // includes essentially no docs, so pre-r20 detection missed this
    // with ~certainty); five short docs carry k1 3x each (below screen,
    // unsampled). The screen must flag k0 deterministically; k1 stays
    // undetected — its rows are the bounded-miss case the detectHotKeys
    // scaladoc prices.
    val mega = (0L, Seq.fill(60)("k0").mkString(" "))
    val small = (1L to 5L).map(id => (id, "k1 k1 k1 pad"))
    val docs = (mega +: small).toDF("doc_id", "text")
    val toksK = (d: org.apache.spark.sql.DataFrame) =>
      d.select(org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.split(
          org.apache.spark.sql.functions.col("text"), " ")).as("k"))
    val hot = Curation.detectHotKeys(docs, toksK, hotMin = 400L,
      sampleFraction = 1e-6, what = "test")
    assert(hot.contains("k0"), "the screened mega-doc's key must be detected")
    assert(!hot.contains("k1"), "unscreened, unsampled keys stay undetected")
    // exact mode is a sharp threshold: k0 occurs 60x, so hotMin = 60
    // detects and hotMin = 61 does not
    assert(Curation.detectHotKeys(docs, toksK, 60L, 1.0, "test").contains("k0"))
    assert(!Curation.detectHotKeys(docs, toksK, 61L, 1.0, "test").contains("k0"))
  }

  /** Planted hot corpus ON DISK for the r20 gram-guard differentials
    * (the public gram APIs size their exchange from the directory):
    * 200 identical docs whose body repeats one passage TWICE — hot
    * grams recur within AND across documents, so the q146/q147
    * doc-keyed salt's df decomposition (per-cell distinct-doc counts
    * must SUM to the global df) is actually load-bearing — plus one
    * passage shared by exactly two docs (duplicated but BELOW the
    * forced threshold 3: the light-dup path keeps rows) and 60 unique
    * docs (the c = 1 tail). */
  private lazy val hotGramDir: String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-hot-grams").toString
    val passage = (0 until 12).map(i => s"p$i").mkString(" ")
    val pair = (0 until 12).map(i => s"q$i").mkString(" ")
    val docs = ((0L until 200L).map(id => (id, s"$passage $passage tail$id end")) ++
      Seq((300L, s"$pair alpha beta gamma"), (301L, s"$pair delta eps zeta")) ++
      (400L until 460L).map(id => (id, (0 until 25).map(j => s"u${id}x$j").mkString(" "))))
      .toDF("doc_id", "text")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("gram guard (q190/q191): guarded substring dedup/apply equal the default join row-for-row on a planted 200x-hot corpus") {
    import graft.ops.Curation
    val dir = hotGramDir
    for ((off, on) <- Seq(
      (Curation.substringDedup(spark, dir, 8, hotMinOcc = -1L),
        Curation.substringDedup(spark, dir, 8, hotMinOcc = 3L, sampleFraction = 1.0)),
      (Curation.substringDedupApply(spark, dir, 8, hotMinOcc = -1L),
        Curation.substringDedupApply(spark, dir, 8, hotMinOcc = 3L, sampleFraction = 1.0)))) {
      val p = on.queryExecution.executedPlan.toString()
      assert(p.contains("salt"), s"forced guard must salt the gram exchange:\n$p")
      assertSameRows(off, on)
    }
    // the light-dup path really carries rows: the 2-doc shared passage
    // is duplicated (so its docs report dup_tok > 0) but sits below the
    // forced threshold 3, i.e. it took the UNSALTED (h, 0) cells
    val dup = Curation.substringDedup(spark, dir, 8, hotMinOcc = 3L,
      sampleFraction = 1.0).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(dup(300L) > 0L && dup(301L) > 0L,
      "the below-threshold duplicated passage must still be accounted")
    assert(dup(400L) == 0L, "unique docs carry no duplicated spans")
  }

  test("gram guard (q192/q193): doc-salted boilerplate detect/apply equal the default row-for-row on the planted corpus") {
    import graft.ops.Curation
    val dir = hotGramDir
    for ((off, on) <- Seq(
      (Curation.boilerplateDetect(spark, dir, 5, 3L, hotMinOcc = -1L),
        Curation.boilerplateDetect(spark, dir, 5, 3L, hotMinOcc = 3L, sampleFraction = 1.0)),
      (Curation.boilerplateApply(spark, dir, 5, 3L, hotMinOcc = -1L),
        Curation.boilerplateApply(spark, dir, 5, 3L, hotMinOcc = 3L, sampleFraction = 1.0)))) {
      val p = on.queryExecution.executedPlan.toString()
      assert(p.contains("salt"), s"forced guard must salt the gram exchange:\n$p")
      assertSameRows(off, on)
    }
    // df decomposition is the load-bearing claim: the hot passage's
    // grams occur TWICE per doc across 200 docs — a (doc,pos)-keyed
    // salt would double-count distinct docs across cells; the guarded
    // df must equal the exact 200
    val det = Curation.boilerplateDetect(spark, dir, 5, 3L,
      hotMinOcc = 3L, sampleFraction = 1.0).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(det.nonEmpty, "planted corpus must surface boilerplate grams")
    val hotRows = det.filter(_._3 >= 400L) // tf = 200 docs x 2 repeats
    assert(hotRows.nonEmpty, "the 200x passage must be in the detected set")
    assert(hotRows.forall(_._2 == 200L),
      s"hot grams' df must be the exact distinct-doc count: ${hotRows.take(3).toSeq}")
  }

  test("gram guard: a hot gram AT the threshold with singleton salt cells resolves its winner from the broadcast side (VERDICT r20 item 7)") {
    import graft.ops.Curation
    val dir = hotGramDir
    // hotMinOcc = 2 makes the 2-doc shared passage (docs 300/301, one
    // occurrence each) HOT at exactly the detection threshold. Its two
    // occurrences salt on xxhash64(doc_id, pos) — when they land in
    // different cells, BOTH cells have c = 1, which the light path never
    // carries (it keeps only per-cell c > 1), so the global keep-first
    // winner can only come from the broadcast hot combine: the
    // coalesce(k_doc, hk_doc) precedence at sdDupOccurrences is
    // load-bearing exactly here. Precondition asserted below so a salt
    // formula change can't silently hollow the test out.
    val w = Curation.gramWidth(spark, dir)
    // the pair passage shares L=8 grams at positions 0..4; at least one
    // of them must have its two occurrences in different cells
    val splitGrams = (0 to 4).map { p =>
      val r = spark.sql(
        s"select pmod(xxhash64(300L, ${p}L), $w), pmod(xxhash64(301L, ${p}L), $w)")
        .collect().head
      (p, r.getLong(0), r.getLong(1))
    }.filter(t => t._2 != t._3)
    assert(splitGrams.nonEmpty,
      s"precondition: at least one shared gram's occurrences must salt " +
        s"into different cells at width $w — adjust the planted doc ids " +
        "if the salt formula changed")
    val off = Curation.substringDedup(spark, dir, 8, hotMinOcc = -1L)
    val on = Curation.substringDedup(spark, dir, 8, hotMinOcc = 2L,
      sampleFraction = 1.0)
    assert(on.queryExecution.executedPlan.toString().contains("salt"),
      "threshold-2 guard must engage on the planted corpus")
    assertSameRows(off, on)
    // sharp read-out of the winner: doc 300 is the global first (dup
    // spans accounted, nothing cut), doc 301 is the non-first (cut > 0).
    // A cell-local winner would misclassify 301's occurrence as first.
    val dup = on.collect()
      .map(r => (r.getLong(0), (r.getLong(2), r.getLong(3)))).toMap
    assert(dup(300L)._1 > 0L && dup(300L)._2 == 0L,
      s"global-first doc must be accounted dup but uncut: ${dup(300L)}")
    assert(dup(301L)._2 > 0L,
      s"non-first doc must have its occurrence cut: ${dup(301L)}")
  }

  test("sliding chunks (q136): full coverage, stride discipline, honest fingerprints") {
    val (w, s) = (16, 12)
    val rows = graft.ops.Curation.chunkSliding(spark, sf, w, s).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4), r.getLong(5), r.getString(6)))
    assert(rows.exists(_._3 > 0), "fixture must produce multi-chunk docs")
    rows.groupBy(_._1).foreach { case (id, chunks) =>
      val nTok = chunks.head._2
      val sorted = chunks.sortBy(_._3)
      assert(sorted.map(_._3).toSeq == sorted.indices.map(_.toLong),
        s"doc $id chunk ids must be dense from 0")
      sorted.foreach { case (_, _, cid, start, text, len, fp) =>
        assert(len == math.min(w, nTok), s"doc $id chunk $cid length")
        assert(start == math.min(cid * s, math.max(nTok - w, 0L)),
          s"doc $id chunk $cid start")
        assert(len == text.split(" ").length.toLong, s"doc $id chunk $cid text length")
        val md = java.security.MessageDigest.getInstance("MD5")
          .digest(text.getBytes("UTF-8")).map("%02x".format(_)).mkString
        assert(fp == md, s"doc $id chunk $cid fingerprint")
      }
      // coverage: chunk intervals tile [0, nTok) with no gaps
      val last = sorted.last
      assert(last._4 + last._6 == nTok, s"doc $id tail not covered")
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(b._4 <= a._4 + a._6, s"doc $id gap between chunks ${a._3}/${b._3}")
        case _ =>
      }
    }
  }

  /** Ground-truth L-gram occurrence list per doc, built in plain Scala. */
  private def gramTruth(l: Int): (Map[Long, Seq[String]], Map[String, Seq[(Long, Int)]]) = {
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), graft.ops.Dedup.normText(col("text")))
      .collect().map(r => r.getLong(0) -> r.getString(1).split(" ").toSeq).toMap
    val occ = docs.toSeq.flatMap { case (id, toks) =>
      if (toks.size < l) Seq.empty
      else toks.sliding(l).zipWithIndex.map { case (g, i) => (g.mkString(" "), id, i) }.toSeq
    }.groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).sortBy(identity)).toMap
    (docs, occ)
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("boilerplate detect (q146): exactly the df-thresholded grams, with exact df/tf/exemplar") {
    val (_, occ) = gramTruth(5)
    val minDf = 2L
    val truth = occ.collect { case (g, os) if os.map(_._1).distinct.size >= minDf =>
      md5hex(g) -> (os.map(_._1).distinct.size.toLong, os.size.toLong, os.min)
    }
    assert(truth.nonEmpty, "fixture must contain cross-document grams")
    val out = graft.ops.Curation.boilerplateDetect(spark, sf, 5, minDf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        (r.getLong(3), r.getInt(4)))).toMap
    assert(out.keySet == truth.keySet, "detected gram set must match ground truth exactly")
    truth.foreach { case (h, (df, tf, k)) =>
      assert(out(h)._1 == df, s"gram $h df")
      assert(out(h)._2 == tf, s"gram $h tf")
      assert(out(h)._3 == ((k._1, k._2)), s"gram $h exemplar must be the corpus-wide min")
    }
  }

  test("boilerplate apply (q147): per-doc gram accounting and flag against ground truth") {
    val l = 5
    val minDf = 2L
    val (docs, occ) = gramTruth(l)
    val boiler = occ.collect {
      case (g, os) if os.map(_._1).distinct.size >= minDf => g
    }.toSet
    assert(boiler.nonEmpty, "fixture must contain boilerplate grams")
    val out = graft.ops.Curation.boilerplateApply(spark, sf, l, minDf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getBoolean(4))).toMap
    assert(out.keySet == docs.keySet, "one row per document, short docs included")
    docs.foreach { case (id, toks) =>
      val grams = if (toks.size < l) Seq.empty
                  else toks.sliding(l).map(_.mkString(" ")).toSeq
      val nB = grams.count(boiler)
      val (gotG, gotB, gotF, gotFlag) = out(id)
      assert(gotG == grams.size.toLong, s"doc $id n_grams")
      assert(gotB == nB.toLong, s"doc $id n_boiler")
      val frac = if (grams.nonEmpty) nB.toDouble / grams.size else 0.0
      assert(gotF == frac, s"doc $id boiler_frac")
      assert(gotFlag == (frac >= graft.ops.Curation.BoilerFracFlag), s"doc $id flag")
    }
    // the flag must discriminate on the fixture: replicas flag, originals don't
    assert(out.values.exists(_._4) && out.values.exists(!_._4),
      "fixture must produce both flagged and clean documents")
  }

  test("phrase index (q164): equals a pure-Scala sliding-window scan") {
    // independent reference: normalize + tokenize in plain Scala, find the
    // top trigram (count desc, lexical asc), then scan every doc with a
    // 3-token sliding window — no Spark joins, no posting lists
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) ->
        r.getString(1).trim.toLowerCase.replaceAll("\\s+", " ").split(" ").toSeq)
    val triCounts = scala.collection.mutable.Map.empty[Seq[String], Long]
    docs.foreach { case (_, toks) =>
      toks.sliding(3).filter(_.length == 3)
        .foreach(g => triCounts(g) = triCounts.getOrElse(g, 0L) + 1) }
    val phrase = triCounts.toSeq
      .minBy { case (g, c) => (-c, g.mkString(" ")) }._1
    val expected = docs.flatMap { case (id, toks) =>
      val hits = toks.sliding(3).zipWithIndex
        .collect { case (g, i) if g == phrase => i }.toSeq
      if (hits.isEmpty) None else Some(id -> (hits.size.toLong, hits.min))
    }.toMap
    val got = TextAnalysis.phraseIndex(spark, sf).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getInt(2)))).toMap
    assert(got.keySet == expected.keySet, "matched doc sets agree")
    expected.foreach { case (id, (n, first)) =>
      assert(got(id)._1 == n && got(id)._2 == first, s"doc $id hits/first_pos")
    }
    assert(got.nonEmpty, "the top trigram must occur somewhere")
  }

  test("q167 temperature mix: exact fixed-point weight chain and α-flattening laws") {
    val rows = TextAnalysis.temperatureMix(spark, sf).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("n_docs"),
        r.getAs[Double]("p_temp"), r.getAs[Long]("target_docs"),
        r.getAs[Double]("keep_frac"), r.getAs[Long]("kept_docs")))
    assert(rows.nonEmpty)
    // independent recompute of the fixed-point weight chain (same JVM pow)
    val wfp = rows.map { case (lang, n, _, _, _, _) =>
      lang -> math.round(math.pow(n.toDouble, 0.3) * 1e6)
    }.toMap
    val wTot = wfp.values.sum
    val nTot = rows.map(_._2).sum
    rows.foreach { case (lang, n, p, target, frac, kept) =>
      val pExp = wfp(lang).toDouble / wTot
      assert(math.abs(p - pExp) < 1e-6, s"$lang p_temp $p vs $pExp")
      assert(target == math.round(pExp * nTot), s"$lang target_docs")
      assert(math.abs(frac - math.min(1.0, target.toDouble / n)) < 1e-6, s"$lang keep_frac")
      assert(kept <= n, s"$lang kept > n_docs")
    }
    // α < 1 flattening: the largest language is cut hardest, the smallest kept most
    val byN = rows.sortBy(_._2)
    assert(byN.last._5 == rows.map(_._5).min, "largest lang must have min keep_frac")
    assert(byN.head._5 == rows.map(_._5).max, "smallest lang must have max keep_frac")
    assert(math.abs(rows.map(_._3).sum - 1.0) < 1e-4, "p_temp must sum to ~1")
  }

  test("q169 overlap decontam ≡ brute-force cross-join argmax; doc set ≡ q79's") {
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), split(Dedup.normText(col("text")), " ").as("toks"))
      .select(col("doc_id"), expr(
        """CASE WHEN size(toks) >= 3
          |  THEN array_distinct(transform(sequence(0, size(toks)-3),
          |         i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])))
          |  ELSE array() END""".stripMargin).as("sh"))
    val tr = docs.filter(md5(col("doc_id").cast("string")) < "e6")
      .select(col("doc_id").as("t_id"), col("sh").as("t_sh"))
    val ev = docs.filter(md5(col("doc_id").cast("string")) >= "e6")
      .select(col("doc_id").as("e_id"), col("sh").as("e_arr"))
    val pairs = tr.crossJoin(ev)
      .select(col("t_id"), col("e_id"),
        expr("size(array_intersect(t_sh, e_arr))").cast("long").as("n_inter"),
        expr("size(e_arr)").cast("long").as("e_sh"))
      .filter(col("n_inter") >= 1)
      .withColumn("overlap", round(col("n_inter").cast("double") / col("e_sh"), 6))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("t_id"))
      .orderBy(col("overlap").desc, col("e_id"))
    val expected = pairs.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("t_id").as("doc_id"), col("e_id").as("best_eval"),
        col("n_inter"), col("e_sh"), col("overlap"),
        (col("overlap") >= 0.5).as("is_cont"))
    val got = TextAnalysis.overlapDecontam(spark, sf)
    assertSameRows(got, expected)
    // the scored-doc set is exactly q79's any-shared-shingle contaminated set
    val q79Set = Dedup.shingles(spark, sf)
      .filter(md5(col("doc_id").cast("string")) < "e6")
      .join(Dedup.shingles(spark, sf)
        .filter(md5(col("doc_id").cast("string")) >= "e6")
        .select("shingle").distinct(), Seq("shingle"), "left_semi")
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(got.select("doc_id").collect().map(_.getLong(0)).toSet == q79Set)
  }

  test("q170 hash embed ≡ explode/groupBy reference with exact L2 fixed-point") {
    val ref = Tables.documents(spark, sf)
      .select(col("doc_id"), explode(split(Dedup.normText(col("text")), " ")).as("t"))
      .withColumn("d", expr("CAST(conv(substring(md5(t), 1, 8), 16, 10) AS BIGINT) % 16"))
      .withColumn("s", expr("CASE WHEN substring(md5(t), 9, 1) < '8' THEN 1L ELSE -1L END"))
      .groupBy(col("doc_id"), col("d")).agg(sum(col("s")).as("v"))
      .collect().map(r => (r.getLong(0), r.getLong(1).toInt) -> r.getLong(2)).toMap
    val got = TextAnalysis.hashEmbed(spark, sf).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val vals = r.getAs[String]("vec").split(" ").map(_.toLong)
      assert(vals.length == 16, s"doc $id must emit 16 dims")
      vals.zipWithIndex.foreach { case (v, j) =>
        assert(v == ref.getOrElse((id, j), 0L), s"doc $id dim $j")
      }
      val l2 = math.round(math.sqrt(vals.map(v => v * v).sum.toDouble) * 1e6)
      assert(r.getAs[Long]("l2_fp") == l2, s"doc $id l2_fp")
    }
  }

  test("q172 entropy gate: exact fixed-point recompute and the ln(n_uniq) ceiling") {
    val texts = Tables.documents(spark, sf)
      .select(col("doc_id"), Dedup.normText(col("text")).as("norm"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val got = TextAnalysis.entropyGate(spark, sf).collect()
    assert(got.length == texts.size)
    got.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val toks = texts(id).split(" ").filter(_.nonEmpty)
      val n = toks.length.toDouble
      // same order-free construction: per-TYPE fixed-point terms, integer sum
      val expFp = toks.groupBy(identity).values
        .map { g => val p = g.length / n; math.round(-p * math.log(p) * 1e9) }.sum
      assert(r.getAs[Long]("ent_fp") == expFp, s"doc $id ent_fp")
      assert(r.getAs[Long]("n_tok") == toks.length && r.getAs[Long]("n_uniq") == toks.distinct.length)
      val ent = r.getAs[Double]("ent")
      assert(ent >= 0.0 && ent <= math.log(r.getAs[Long]("n_uniq").toDouble) + 1e-6,
        s"doc $id: entropy outside [0, ln(n_uniq)]")
      assert(r.getAs[Boolean]("is_low_entropy") == (r.getAs[Long]("ent_fp") < 2500000000L))
    }
  }

  test("q173 PPMI: pair extraction ≡ positional self-join; scores and ranks check out") {
    // alternative construction: explode positions, self-join on
    // 1 <= pos_b - pos_a <= 2 within a doc — must yield the same pair
    // multiset as the windowed transform
    val pos = Tables.documents(spark, sf)
      .select(col("doc_id"), posexplode(split(Dedup.normText(col("text")), " ")).as(Seq("p", "t")))
      .filter(col("t") =!= "")
    val alt = pos.as("x").join(pos.as("y"),
        col("x.doc_id") === col("y.doc_id") &&
          (col("y.p") - col("x.p")).between(1, 2))
      .groupBy(col("x.t").as("a"), col("y.t").as("b")).agg(count(lit(1)).as("c_ab"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val got = TextAnalysis.ppmiTopK(spark, sf).collect()
    assert(got.nonEmpty)
    val totalPairs = alt.values.sum
    val caMap = alt.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val cbMap = alt.groupBy(_._1._2).view.mapValues(_.values.sum).toMap
    got.foreach { r =>
      val (a, b) = (r.getAs[String]("a"), r.getAs[String]("b"))
      assert(r.getAs[Long]("c_ab") == alt((a, b)), s"($a,$b) c_ab")
      assert(r.getAs[Long]("c_a") == caMap(a) && r.getAs[Long]("c_b") == cbMap(b))
      assert(r.getAs[Long]("c_ab") >= 3 && r.getAs[Int]("rn") <= 3)
      val pmi = math.log(r.getAs[Long]("c_ab").toDouble * totalPairs /
        (r.getAs[Long]("c_a").toDouble * r.getAs[Long]("c_b")))
      assert(math.abs(r.getAs[Double]("ppmi") - math.max(pmi, 0.0)) < 1e-5, s"($a,$b) ppmi")
      assert(r.getAs[Double]("ppmi") > 0.0)
    }
    // per-focus-word bound: at most 3 rows, ranks contiguous from 1
    got.groupBy(_.getAs[String]("a")).foreach { case (a, rows) =>
      val rns = rows.map(_.getAs[Int]("rn")).sorted
      assert(rns.length <= 3 && rns.sameElements(1 to rns.length),
        s"focus '$a' ranks ${rns.mkString(",")}")
    }
  }

  test("q174 ngram diversity: exact recompute from raw tokens; ratio bounds") {
    val byLang = Tables.documents(spark, sf)
      .select(col("lang"), Dedup.normText(col("text")).as("norm"))
      .collect().map(r => r.getString(0) -> r.getString(1))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val got = TextAnalysis.ngramDiversity(spark, sf).collect()
    assert(got.map(_.getAs[String]("lang")).toSet == byLang.keySet)
    got.foreach { r =>
      val texts = byLang(r.getAs[String]("lang"))
      val toks = texts.map(_.split(" ").filter(_.nonEmpty).toSeq)
      val all = toks.flatten
      val grams = toks.flatMap(_.sliding(3).filter(_.length == 3).map(_.mkString(" ")))
      assert(r.getAs[Long]("n_tok") == all.length && r.getAs[Long]("n_types") == all.distinct.length)
      assert(r.getAs[Long]("n_3grams") == grams.length &&
        r.getAs[Long]("n_3gram_types") == grams.distinct.length)
      val ttr = r.getAs[Double]("ttr"); val dv = r.getAs[Double]("div_3gram")
      assert(ttr > 0 && ttr <= 1.0 && dv >= 0 && dv <= 1.0)
      // trigram diversity dominates unigram TTR: contexts split types
      assert(dv >= ttr - 1e-6, s"${r.getAs[String]("lang")}: div_3gram < ttr")
    }
  }

  test("q187 bitext mining equals a brute-force centered banded-LSH rerank") {
    val vecs = TextAnalysis.hashVecOf(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getSeq[Long](2).toArray))
      .filter(_._3.map(x => x * x).sum > 0)
    val nn = vecs.length.toLong
    val r = TextAnalysis.bitextBandBits(nn)
    val nb = TextAnalysis.BitextBands
    val coefs = (0 until nb * r).map(p =>
      graft.ops.Similarity.planeCoefs(p).take(16).toArray)
    val sVec = (0 until 16).map(i => vecs.map(_._3(i)).sum).toArray
    def dot(a: Array[Long], b: Array[Int]): Long =
      a.zip(b).map { case (x, y) => x * y }.sum
    def bandsOf(v: Array[Long]): Seq[(Int, Long)] = (0 until nb).map { b =>
      b -> (0 until r).foldLeft(0L) { (acc, j) =>
        val c = coefs(b * r + j)
        acc * 2 + (if (nn * dot(v, c) - dot(sVec, c) >= 0L) 1L else 0L)
      }
    }
    def md5u32(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(8), 16)
    }
    def cos(a: Array[Long], b: Array[Long]) =
      a.zip(b).map { case (x, y) => x * y }.sum.toDouble /
        (math.sqrt(a.map(x => x * x).sum.toDouble) * math.sqrt(b.map(x => x * x).sum.toDouble))
    val enB = vecs.filter(_._2 == "en").flatMap { case (id, _, v) =>
      bandsOf(v).map { case (b, bv) => (b, bv, id) } }
    val cnt = enB.groupBy(t => (t._1, t._2)).view.mapValues(_.length).toMap
    // the cap the miner resolves under its shipped rule — at gate scale
    // the n/4096 term is far below the 256 floor, but the model mirrors
    // the RULE (as the oracle does) so a corpus-size change cannot
    // silently diverge model and miner
    val capRule = TextAnalysis.bitextBucketCap(nn)
    val enMap = enB
      .filter { case (b, bv, id) =>
        md5u32(s"$id:$b") % cnt((b, bv)) < capRule }
      .groupBy(t => (t._1, t._2)).view.mapValues(_.map(_._3)).toMap
    val enVec = vecs.filter(_._2 == "en").map(t => t._1 -> t._3).toMap
    // default path: exact bucket per band, no multiprobe
    def probes(bv: Long): Seq[Long] = Seq(bv)
    def rd(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val exp = vecs.filter(_._2 != "en").flatMap { case (tid, lang, v) =>
      val cids = bandsOf(v).flatMap { case (b, bv) =>
        probes(bv).flatMap(p => enMap.getOrElse((b, p), Array.empty[Long])) }.distinct
      val cands = cids.map(eid => (cos(v, enVec(eid)), eid))
        .sortBy { case (c, id) => (-c, id) }
      cands.headOption.collect {
        case (c1, e1) if rd(c1) >= 0.5 =>
          val c2 = cands.drop(1).headOption.map(_._1).getOrElse(0.0)
          (tid, lang) -> (e1, rd(c1), rd(c1 - c2))
      }
    }.toMap
    val got = TextAnalysis.bitextMining(spark, sf).collect()
    assert(got.length == exp.size && exp.nonEmpty,
      s"got ${got.length} vs exp ${exp.size}")
    got.foreach { r =>
      val (e1, c1, m) = exp((r.getAs[Long]("t_id"), r.getAs[String]("lang")))
      assert(r.getAs[Long]("en_id") == e1, s"t ${r.getAs[Long]("t_id")} partner")
      assert(r.getAs[Double]("cos") == c1 && r.getAs[Double]("margin") == m,
        s"t ${r.getAs[Long]("t_id")}: ${r.getAs[Double]("cos")}/${r.getAs[Double]("margin")} vs $c1/$m")
      assert(r.getAs[Double]("margin") >= 0 && r.getAs[Double]("margin") <= r.getAs[Double]("cos") + 1e-9)
    }
  }

  test("q187 recall floor: banded top-1 finds the exact English neighbor (VERDICT r14 item 2)") {
    // CurationOpsSpec's brute-rerank law (above) proves the BANDING is
    // implemented correctly; this law pins what the banding GIVES UP vs
    // the exact cosine top-1 English neighbor — the metric a parallel-
    // corpus miner is judged on (Artetxe & Schwenk margin selection).
    // sampleN covers the whole non-English side at gate scale.
    val rows = TextAnalysis.bitextRecallFrame(spark, sf, sampleN = 1000000)
      .collect()
    assert(rows.nonEmpty, "no non-English queries in corpus")
    // the hit verdict lives IN the frame (band_hit/nocap_hit: id match
    // with the exact top-1 or exact raw-cosine equality recomputed from
    // the vectors — a genuine score tie, no tolerance), so this law and
    // RecallProbe score recall identically (ADVICE r15 item 4)
    def hit(r: org.apache.spark.sql.Row, hitCol: String): Boolean =
      r.getAs[Boolean](hitCol)
    val hits = rows.count(hit(_, "band_hit"))
    val hitsNoCap = rows.count(hit(_, "nocap_hit"))
    val recall = hits.toDouble / rows.length
    // floor set from measurement (RECALL_r15 artifacts): 0.95+ at
    // sf0.001/sf0.01 — alert margin below, not a tuned-to-pass bound
    assert(recall >= 0.80, f"top-1 recall $recall%.3f below the 0.80 floor")
    // removing the English bucket cap only widens candidate sets — it
    // can recover recall, never lose it (a strict inequality here
    // would mean the cap filter is not a pure subset)
    assert(hitsNoCap >= hits, s"uncapped recall $hitsNoCap < capped $hits")
  }

  test("q186 source-lang KL: exact fixed-point recompute; Gibbs non-negativity") {
    val rows = Tables.documents(spark, sf).select(col("source"), col("lang"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    val n = rows.length.toDouble
    val byLang = rows.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val exp = rows.groupBy(_._1).view.mapValues { docs =>
      val ns = docs.length
      val klfp = docs.groupBy(_._2).map { case (lang, g) =>
        val ps = g.length / ns.toDouble
        math.round(ps * math.log(ps / (byLang(lang) / n)) * 1e9)
      }.sum
      (ns.toLong, BigDecimal(klfp.toDouble / 1e9)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toMap
    val got = TextAnalysis.sourceLangKl(spark, sf).collect()
    assert(got.length == exp.size)
    got.foreach { r =>
      val (nd, kl) = exp(r.getAs[String]("source"))
      assert(r.getAs[Long]("n_docs") == nd)
      assert(math.abs(r.getAs[Double]("kl") - kl) < 1e-9,
        s"${r.getAs[String]("source")}: ${r.getAs[Double]("kl")} vs $kl")
      // Gibbs: KL >= 0 (up to the 1e-9 per-term grid)
      assert(r.getAs[Double]("kl") >= -1e-6)
    }
  }

  test("q180 Neyman allocation: exact fixed-point recompute; budget ≈ conserved") {
    val q = TextAnalysis.qualityScore(spark, sf)
      .select(col("doc_id"), col("quality")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val langOf = Tables.documents(spark, sf).select(col("doc_id"), col("lang"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val byLang = q.toSeq.groupBy { case (id, _) => langOf(id) }
    val stats = byLang.view.mapValues { docs =>
      val fps = docs.map(d => math.round(d._2 * 1e4))
      val n = fps.length.toLong
      val (sq, sqq) = (fps.sum, fps.map(f => f * f).sum)
      val sigma = math.sqrt(math.max(n.toDouble * sqq - sq.toDouble * sq, 0.0)) / n / 1e4
      (n, sigma, math.round(n * sigma * 1e6))
    }.toMap
    val t = stats.values.map(_._3).sum
    val got = ops.Curation.neymanAllocation(spark, sf).collect()
    assert(got.length == stats.size)
    var allocSum = 0L
    got.foreach { r =>
      val (n, sigma, w) = stats(r.getAs[String]("lang"))
      assert(r.getAs[Long]("n_h") == n)
      assert(math.abs(r.getAs[Double]("sigma") - sigma) < 1e-6)
      val share = w.toDouble / t
      assert(math.abs(r.getAs[Double]("share") - share) < 1e-6)
      assert(r.getAs[Long]("alloc") == math.round(ops.Curation.NeymanBudget * share))
      allocSum += r.getAs[Long]("alloc")
    }
    // per-stratum independent rounding drifts the total by < |strata|
    assert(math.abs(allocSum - ops.Curation.NeymanBudget) <= got.length,
      s"allocated $allocSum of ${ops.Curation.NeymanBudget}")
  }

  test("q175 zipf slope: closed form ≡ naive least squares on the ranked head") {
    val got = TextAnalysis.zipfSlope(spark, sf).collect()
    assert(got.nonEmpty)
    val freqs = Tables.documents(spark, sf)
      .select(col("lang"), explode(split(Dedup.normText(col("text")), " ")).as("t"))
      .filter(col("t") =!= "")
      .groupBy("lang", "t").count()
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    got.foreach { r =>
      val lang = r.getAs[String]("lang")
      val ranked = freqs.filter(_._1 == lang).sortBy(t => (-t._3, t._2))
        .take(TextAnalysis.ZipfRankCap)
      assert(r.getAs[Long]("n_terms") == ranked.length)
      // independent two-pass mean-centered fit over the same points —
      // must agree with the one-pass fixed-point closed form to ~1e-4
      // (the fixed-point grid is 1e-9 per term; closed form amplifies)
      val pts = ranked.zipWithIndex.map { case ((_, _, c), i) =>
        (math.log(i + 1.0), math.log(c.toDouble)) }
      val (mx, my) = (pts.map(_._1).sum / pts.length, pts.map(_._2).sum / pts.length)
      val slope = pts.map(p => (p._1 - mx) * (p._2 - my)).sum /
        pts.map(p => (p._1 - mx) * (p._1 - mx)).sum
      assert(math.abs(r.getAs[Double]("zipf_slope") - slope) < 1e-4,
        s"$lang: ${r.getAs[Double]("zipf_slope")} vs naive $slope")
      // natural-language sanity: strictly decreasing fit, not flat
      assert(slope < -0.1, s"$lang slope $slope suspiciously flat")
    }
  }
}
