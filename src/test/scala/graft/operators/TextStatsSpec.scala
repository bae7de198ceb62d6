package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

class TextStatsSpec extends AnyFunSuite {

  test("tokenFertilityByLang: merge-rich language spends fewer tokens/word") {
    val spark2 = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    import spark2.implicits._
    // lang a: one repeated word the trained merges compress hard;
    // lang b: per-doc unique words the tokenizer has never merged
    val docs = ((0 until 30).map(i => (i.toLong, "a", "abcd abcd abcd abcd")) ++
      (30 until 60).map(i => (i.toLong, "b", s"q${i}xyz w${i}vu r${i}st k${i}mn")))
      .toDF("doc_id", "lang", "text")
    val got = TextStats.tokenFertilityByLang(docs, "doc_id", "text",
        "lang", rounds = 8)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(4))).toMap
    assert(got("a")._1 == 30 && got("b")._1 == 30)
    assert(got("a")._2 == 120 && got("b")._2 == 120) // 4 words each
    // 'abcd' merges to one token -> fertility 1000; the unseen words
    // stay multi-token
    assert(got("a")._3 == 1000, s"lang a fertility ${got("a")._3}")
    assert(got("b")._3 > 3000, s"lang b fertility ${got("b")._3}")
  }

  test("languageIdTrigram separates confusable pairs on unseen text") {
    val spark2 = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    import spark2.implicits._
    // none of these sentences occur in the profile-derivation sample or
    // the registered fixture — the classic confusable pairs (es/pt,
    // de/nl, zh/ja) plus every non-Latin script and the und fallbacks
    val cases = Seq(
      "es" -> "la identificación de la lengua es una tarea importante para nosotros",
      "pt" -> "a identificação da língua é uma tarefa importante para nós",
      "de" -> "die erkennung der sprache ist eine wichtige aufgabe für uns",
      "nl" -> "het herkennen van de taal is een belangrijke taak voor ons",
      "zh" -> "语言识别对我们来说是一项重要的任务",
      "ja" -> "言語の識別は私たちにとって重要な課題です",
      "ru" -> "определение языка является для нас важной задачей",
      "ko" -> "언어 식별은 우리에게 중요한 과제이다",
      "ar" -> "تحديد اللغة مهمة مهمة بالنسبة لنا",
      "it" -> "il riconoscimento della lingua è un compito importante per noi",
      "fr" -> "l'identification de la langue est une tâche importante pour nous",
      "en" -> "identifying the language is an important task for us",
      "und" -> "12345 67890 @@@ ### !!!",
      "und" -> "")
    val df = cases.zipWithIndex.map { case ((l, t), i) => (i.toLong, l, t) }
      .toDF("doc_id", "expected", "text")
    val got = TextStats.languageIdTrigram(df, "doc_id", "text")
      .select("doc_id", "pred_lang").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    cases.zipWithIndex.foreach { case ((expected, text), i) =>
      assert(got(i.toLong) == expected,
        s"'${text.take(40)}' -> ${got(i.toLong)}, want $expected")
    }
  }

  test("languageIdTrigram >= 940 milli per language on the FULL unseen eval space") {
    val spark2 = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    import spark2.implicits._
    // every combination the doc_lang_id_eval generator can emit:
    // 12 langs x 6^3 fragment choices = 2592 sentences, none in the
    // derivation corpus — the committed accuracy floor for the model
    val rows = for {
      li <- LangProfiles.langs.indices
      a <- 0 until 6; b <- 0 until 6; c <- 0 until 6
    } yield (li.toLong * 216 + a * 36 + b * 6 + c,
      LangProfiles.langs(li),
      s"${LangProfiles.evalSlots(li)(0)(a)} ${LangProfiles.evalSlots(li)(1)(b)} ${LangProfiles.evalSlots(li)(2)(c)}")
    val df = rows.toDF("doc_id", "planted", "text")
    val got = TextStats.languageIdTrigram(df, "doc_id", "text")
      .select("doc_id", "pred_lang").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val perLang = rows.groupBy(_._2).map { case (l, rs) =>
      l -> rs.count(r => got(r._1) == l) * 1000 / rs.size
    }
    // floor = the measured r16 level: pt sits at 944 (its residual
    // misses are Romance cognate phrases — "a criança tranquila",
    // "sorri com carinho" — that are near-identical in es/it); every
    // other language holds >= 950, most at 1000
    perLang.foreach { case (l, acc) =>
      assert(acc >= 940, s"$l eval accuracy $acc milli < 940")
    }
    val macroAcc = perLang.values.sum / perLang.size
    assert(macroAcc >= 990, s"macro accuracy $macroAcc milli < 990")
  }

  test("languageIdTrigram scoring arithmetic and script points pin down") {
    val spark2 = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    import spark2.implicits._
    // pure-Hangul text: zero trigram hits possible outside ko profile;
    // score_ko >= 3 * (hangul char count) and all Latin scores 0
    val hangul = "가나다라"
    val df = Seq((0L, hangul)).toDF("doc_id", "text")
    val r = TextStats.languageIdTrigram(df, "doc_id", "text").collect()(0)
    val ko = r.getAs[Long]("score_ko")
    assert(ko >= 3L * hangul.length, s"score_ko $ko")
    assert(r.getAs[Long]("score_en") == 0L && r.getAs[Long]("score_ru") == 0L)
    assert(r.getAs[String]("pred_lang") == "ko")
    // kanji-only text scores zh = 2/char over ja = 1/char -> zh wins;
    // kana-heavy text flips to ja at weight 3
    val kanji = Seq((0L, "水火木金土")).toDF("doc_id", "text")
    val k = TextStats.languageIdTrigram(kanji, "doc_id", "text").collect()(0)
    assert(k.getAs[Long]("score_zh") == 10L && k.getAs[Long]("score_ja") == 5L)
    assert(k.getAs[String]("pred_lang") == "zh")
    val kana = Seq((0L, "これはとてもいいです")).toDF("doc_id", "text")
    val j = TextStats.languageIdTrigram(kana, "doc_id", "text").collect()(0)
    assert(j.getAs[String]("pred_lang") == "ja")
    assert(j.getAs[Long]("score_ja") >= 30L) // 10 kana * 3
  }

  test("piiProfile: typed counts, order precedence, scrub completeness") {
    val spark2 = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    import spark2.implicits._
    val docs = Seq(
      // every category at once
      (0L, "mail a@b.org see https://x.io/p card 4111 1111 1111 1111 " +
        "call +31 6 1234 5678 or (555) 123-4567 host 10.0.0.1 ref 123456 end"),
      // precedence: the email inside a URL counts under EMAIL (earlier
      // category) because the email pattern also matches there
      (1L, "https://x.io/u?m=a@b.org tail"),
      // digits inside cc/ip/phone must NOT double-count as num
      (2L, "4111 1111 1111 1111 and 10.0.0.1 and +31 6 1234 5678"),
      (3L, "clean text only")).toDF("doc_id", "text")
    val got = TextStats.piiProfile(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r).toMap
    def counts(id: Long) = (got(id).getAs[Long]("n_email"),
      got(id).getAs[Long]("n_url"), got(id).getAs[Long]("n_cc"),
      got(id).getAs[Long]("n_phone"), got(id).getAs[Long]("n_ip"),
      got(id).getAs[Long]("n_num"))
    assert(counts(0L) == ((1L, 1L, 1L, 2L, 1L, 1L)), counts(0L).toString)
    assert(counts(1L) == ((1L, 1L, 0L, 0L, 0L, 0L)), counts(1L).toString)
    assert(counts(2L) == ((0L, 0L, 1L, 1L, 1L, 0L)), counts(2L).toString)
    assert(counts(3L) == ((0L, 0L, 0L, 0L, 0L, 0L)), counts(3L).toString)
    // the scrubbed text retains no digit runs or @ from doc 0
    val sc = got(0L).getAs[String]("scrubbed")
    assert(!sc.exists(_.isDigit) && !sc.contains("@"), sc)
    assert(got(3L).getAs[Long]("chars_removed") == 0L)
  }

  test("langProfilesTrain: differential counts, ties, rank determinism") {
    val spark2 = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    import spark2.implicits._
    // 'aa' text: gram " aa"/"aa "/"aaa" counts differ per lang; 'zz'
    // appears in BOTH b and c with EQUAL counts (tie -> max_other is
    // the other's count, d = 0, dropped); 'qq' unique to c
    val docs = Seq(
      (0L, "a", "aaa aaa"), (1L, "a", "aaa"),
      (2L, "b", "aaa zz"), (3L, "b", "zz"),
      (4L, "c", "zz qq"), (5L, "c", "zz")).toDF("doc_id", "lang", "text")
    val got = TextStats.langProfilesTrain(docs, "doc_id", "text", "lang", k = 3)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    val byLang = got.groupBy(_._1)
    // 'aaa' occurs: lang a -> docs 0 (x2... positions) + 1; count grams
    // " zz" tie: b has docs 2,3 -> " zz" twice; c has docs 4,5 -> " zz"
    // twice -> tie, d = 0, absent from both
    assert(!got.exists(r => r._2 == " zz"), s"tied gram survived: $got")
    // 'qq' grams unique to c
    val cRows = byLang.getOrElse("c", Array.empty)
    assert(cRows.exists(r => r._2 == " qq" && r._3 == 1 && r._4 == 0 && r._5 == 1),
      s"c rows: ${cRows.toSeq}")
    // ranks are 1..k, deterministic, within each lang
    byLang.foreach { case (l, rows) =>
      assert(rows.map(_._6).sorted.sameElements(1L to rows.length), s"$l ranks")
    }
    // determinism: second run identical
    val again = TextStats.langProfilesTrain(docs, "doc_id", "text", "lang", k = 3)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(got.sorted.sameElements(again.sorted))
  }

  test("LangKernels.scores == independent brute force on fuzzed text") {
    // brute force: literal profile membership per gram + per-range
    // regex-free counting — written independently of the kernel's
    // packed-key binary search
    def brute(text: String): Array[Long] = {
      val t2 = " " + text + " "
      val cps = t2.codePoints().toArray
      val grams = (0 until math.max(0, cps.length - 2))
        .map(i => new String(cps, i, 3))
      LangProfiles.langs.zip(LangProfiles.profiles).map { case (lang, prof) =>
        val tri = 2L * grams.count(prof.toSet)
        val scr = LangProfiles.scriptRanges.getOrElse(lang, Seq.empty)
          .map { case (w, lo, hi) =>
            w.toLong * cps.count(c => c >= lo && c <= hi)
          }.sum
        tri + scr
      }.toArray
    }
    val rnd = new scala.util.Random(42)
    val alphabets = Seq(
      "abcdefghijklmnopqrstuvwxyz ", "der die und sch ein ", "的是了在我们 ",
      "あいうえおかきくけこ漢字 ", "가나다라마바사 ", "абвгдежзик ",
      "ابتثجحخدذر ", "é è ç ã ñ ü ö ")
    val texts = (0 until 200).map { i =>
      val a = alphabets(i % alphabets.size)
      (0 until (i % 60)).map(_ => a(rnd.nextInt(a.length))).mkString
    } ++ Seq("", " ", "ab", "the quick brown fox", "言語の識別")
    texts.foreach { t =>
      val got = graft.functions.LangKernels.scores(
        org.apache.spark.unsafe.types.UTF8String.fromString(t)).toLongArray()
      val want = brute(t)
      assert(got.sameElements(want),
        s"'${t.take(30)}': ${got.toSeq} != ${want.toSeq}")
    }
  }

  test("classifierTrain replays the hand-computed integer GD rounds") {
    val spark2 = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    import spark2.implicits._
    def bucket(word: String, b: Int): Int = {
      val arr = graft.functions.TextKernels.wordPortableHashes(
        org.apache.spark.unsafe.types.UTF8String.fromString(word))
      java.lang.Math.floorMod(arr.getLong(0), b.toLong).toInt
    }
    val (b1, b2) = (bucket("alpha", 64), bucket("omega", 64))
    assume(b1 != b2) // the fixture needs the two words in distinct buckets
    val docs = Seq((0L, "alpha alpha", 1), (1L, "omega", 0))
      .toDF("doc_id", "text", "label")
    // Round 1: margins 0 -> p = 2000; e = +2000 (doc0), -2000 (doc1);
    // denom = 4 * 2 docs = 8; g_b1 = 2000*2 -> +500, g_b2 = -2000 -> -250.
    val w1 = TextStats.classifierTrain(docs, "doc_id", "text", "label",
      numBuckets = 64, rounds = 1)
    assert(w1(b1) == 500L && w1(b2) == -250L, s"round1 ${w1(b1)}, ${w1(b2)}")
    assert(w1.zipWithIndex.forall { case (v, i) => i == b1 || i == b2 || v == 0L })
    // Round 2: doc0 margin 1000 -> p 3000 -> e 1000 -> g 2000 -> +250;
    // doc1 margin -250 -> p 1750 -> e -1750 -> g -1750 -> -218 (TRUNCATING
    // division toward zero, not floor -219 — the DuckDB `//` contract).
    val w2 = TextStats.classifierTrain(docs, "doc_id", "text", "label",
      numBuckets = 64, rounds = 2)
    assert(w2(b1) == 750L && w2(b2) == -468L, s"round2 ${w2(b1)}, ${w2(b2)}")
    // rounds = 0 is the untouched zero model
    assert(TextStats.classifierTrain(docs, "doc_id", "text", "label",
      numBuckets = 64, rounds = 0).forall(_ == 0L))
  }

  test("classifierTrain learns a separable corpus; score deploys it") {
    val spark2 = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    import spark2.implicits._
    // class-1 docs carry 'good'-family markers, class-0 'spam'-family;
    // shared filler words force the model to weight the markers
    val docs = (0 until 80).map { i =>
      val y = i % 2
      val marker = if (y == 1) s"good fine solid" else s"spam junk noise"
      (i.toLong, s"filler common words $marker tail$i", y)
    }.toDF("doc_id", "text", "label")
    val w = TextStats.classifierTrain(docs, "doc_id", "text", "label",
      numBuckets = 128, rounds = 3)
    val scored = TextStats.classifierScore(docs, "doc_id", "text",
        numBuckets = 128, weights = Some(w))
      .select("doc_id", "keep").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val acc = (0 until 80).count(i => scored(i.toLong) == (i % 2 == 1))
    assert(acc == 80, s"trained classifier only $acc/80 on separable data")
    // determinism: a second training run reproduces every weight bit
    assert(TextStats.classifierTrain(docs, "doc_id", "text", "label",
      numBuckets = 128, rounds = 3).sameElements(w))
  }

  test("classifierTrain learns a LENGTH threshold via the bias-token intercept") {
    val spark2 = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    import spark2.implicits._
    // label = n_words >= 40: NOT representable by margin>0 without an
    // intercept (all-token weights scale both classes together); the
    // appended bias tokens are the standard hashed-intercept trick —
    // the doc_classifier_gopher construction, pinned here on a
    // synthetic corpus with a shared vocabulary so no WORD separates
    // the classes, only length
    val vocab = Array("alpha", "bravo", "carol", "delta", "echos", "fotox",
      "golfo", "hotel", "indxa", "julie", "kilos", "liman")
    val docs = (0 until 300).map { i =>
      val n = 5 + (i * 37) % 80 // 5..84 words, deterministic spread
      val words = (0 until n).map(j => vocab((i * 13 + j * 7) % vocab.length))
      (i.toLong, words.mkString(" ") + " xqbias xqbias xqbias xqbias",
        if (n >= 40) 1 else 0)
    }.toDF("doc_id", "text", "label")
    val w = TextStats.classifierTrain(docs, "doc_id", "text", "label",
      numBuckets = 512, rounds = 24, lrDecayEvery = 12)
    val scored = TextStats.classifierScore(docs, "doc_id", "text",
        numBuckets = 512, weights = Some(w))
      .select("doc_id", "keep").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val acc = (0 until 300).count { i =>
      scored(i.toLong) == ((5 + (i * 37) % 80) >= 40)
    } * 1000 / 300
    assert(acc >= 900, s"length-threshold accuracy $acc milli < 900")
  }

  test("classifierTrain: empty and all-null-label corpora return the zero " +
      "model on both sides of the driver gate (ADVICE r20)") {
    val spark2 = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    import spark2.implicits._
    val empty = Seq.empty[(Long, String, Int)].toDF("doc_id", "text", "label")
    // empty corpus: nDocs = 0 must NOT divide by zero in the driver loop
    assert(TextStats.classifierTrain(empty, "doc_id", "text", "label",
      numBuckets = 32, rounds = 4).forall(_ == 0L))
    // all labels null: every gradient row drops out, the zero model
    // returns — and identically above the gate, where a bucket whose
    // docs are ALL null-labeled yields a null sum that the distributed
    // collect must tolerate, not NPE on
    val allNull = Seq((0L, "alpha beta", None: Option[Long]),
      (1L, "gamma", None: Option[Long])).toDF("doc_id", "text", "label")
    val d = TextStats.classifierTrain(allNull, "doc_id", "text", "label",
      numBuckets = 32, rounds = 4)
    val l = TextStats.classifierTrain(allNull, "doc_id", "text", "label",
      numBuckets = 32, rounds = 4, driverTypeLimit = 0)
    assert(d.forall(_ == 0L) && l.forall(_ == 0L),
      s"all-null-label corpus trained nonzero: ${d.toSeq} / ${l.toSeq}")
  }

  test("classifierTrain: null labels drop out of the gradient identically " +
      "on both sides of the driver gate (ADVICE r20)") {
    val spark2 = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    import spark2.implicits._
    // a null label is absent from every gradient sum but still
    // counted into nDocs (the distributed denominator semantics)
    val docs = Seq((0L, "alpha alpha", Option(1L)), (1L, "omega", Option(0L)),
      (2L, "alpha omega", None: Option[Long])).toDF("doc_id", "text", "label")
    val fast = TextStats.classifierTrain(docs, "doc_id", "text", "label",
      numBuckets = 64, rounds = 3)
    val loop = TextStats.classifierTrain(docs, "doc_id", "text", "label",
      numBuckets = 64, rounds = 3, driverTypeLimit = 0)
    assert(fast.sameElements(loop),
      s"gate-dependent weights: ${fast.toSeq} != ${loop.toSeq}")
    assert(fast.exists(_ != 0L), "labeled rows trained nothing")
  }

  test("classifierTrain rejects lr-decay schedules that overflow Long") {
    val spark2 = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    import spark2.implicits._
    val docs = Seq((0L, "alpha", 1), (1L, "omega", 0))
      .toDF("doc_id", "text", "label")
    // rounds/lrDecayEvery pushes the shift past 62 bits: Long << wraps
    // mod 64, so without the guard the denominator silently corrupts
    intercept[IllegalArgumentException] {
      TextStats.classifierTrain(docs, "doc_id", "text", "label",
        numBuckets = 64, rounds = 64, lrDecayEvery = 1)
    }
    intercept[IllegalArgumentException] { // big lrDen eats the headroom
      TextStats.classifierTrain(docs, "doc_id", "text", "label",
        numBuckets = 64, rounds = 13, lrDecayEvery = 1, lrDen = 1L << 52)
    }
    intercept[IllegalArgumentException] { // nDocs factor eats headroom too:
      // entry guard passes (shift 4 + bitlen 53 = 57) but 4*2*2^52 << 4
      // has bitlen 59... make it fail: shift 8 -> 55+8=63 > 62
      TextStats.classifierTrain(docs, "doc_id", "text", "label",
        numBuckets = 64, rounds = 9, lrDecayEvery = 1, lrDen = 1L << 52)
    }
    // a deep legal schedule with a large lrDen still trains
    val w = TextStats.classifierTrain(docs, "doc_id", "text", "label",
      numBuckets = 64, rounds = 4, lrDecayEvery = 1, lrDen = 1L << 50)
    assert(w.length == 64)
  }

  test("budgetSelect == naive greedy inclusive-cumsum cut") {
    val spark2 = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    import spark2.implicits._
    // quality spread + exact-boundary and crossing-doc cases
    val docs = (0 until 200).map { i =>
      val words = Seq.fill(5 + i % 17)(if (i % 3 == 0) "the" else s"w$i")
      (i.toLong, words.mkString(" "))
    }
    val df = docs.toDF("doc_id", "text")
    def naive(budget: Long): Set[Long] = {
      val scored = docs.map { case (id, t) =>
        val toks = t.split(" ")
        val stop = toks.count(TextStats.enStopwords.contains)
        val punct = 0L // texts are [a-z0-9 ] by construction
        val q = stop.toLong * 1000 / toks.length - punct
        (id, q, toks.length.toLong)
      }.sortBy { case (id, q, _) => (-q, id) }
      var cum = 0L
      scored.flatMap { case (id, _, n) =>
        cum += n; if (cum <= budget) Some(id) else None
      }.toSet
    }
    Seq(0L, 100L, 777L, 1500L, 100000L).foreach { b =>
      val got = TextStats.budgetSelect(df, "doc_id", "text", b)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(got == naive(b), s"budget $b")
    }

    // boundedness: the boundary-path running-sum window must stay fed
    // by the quality-filtered frame only — every window in the plan is
    // PARTITIONED (by quality_milli), and the full buckets that pass
    // without a window carry at most `budget` tokens, so the window
    // input is ~budget-sized + one boundary bucket at any corpus size.
    // A refactor that windows the whole corpus trips both asserts.
    val sel = TextStats.budgetSelect(df, "doc_id", "text", 777L)
    val rows = sel.select("quality_milli", "n_tokens").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val helper = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    val wins = helper.collectWithSubqueries(sel.queryExecution.executedPlan) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(wins.nonEmpty && wins.forall(_.partitionSpec.nonEmpty),
      "budgetSelect windows must be partitioned by the quality key")
    val bk = rows.map(_._1).min // boundary bucket = lowest kept quality
    assert(rows.filter(_._1 > bk).map(_._2).sum <= 777L,
      "full buckets above the boundary must fit the budget")
  }

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  private def docs(rows: (Long, String)*): DataFrame =
    rows.toDF("doc_id", "text")

  test("tokenCounts: whitespace vs regex tokens") {
    val d = docs(1L -> "Hello, world! it's 42")
    val r = TextStats.tokenCounts(d, "doc_id", "text").head()
    assert(r.getLong(1) == 4) // hello, | world! | it's | 42
    // hello , world ! it ' s 42
    assert(r.getLong(2) == 8)
  }

  test("qualityScore ratios on a crafted doc") {
    val d = docs(1L -> "ab cd!") // norm = "ab cd!": 6 chars, 2 tokens, 1 punct
    val r = TextStats.qualityScore(d, "doc_id", "text").head()
    assert(r.getLong(1) == 6 && r.getLong(2) == 2)
    assert(math.abs(r.getDouble(3) - 2.5) < 1e-12) // (6-1)/2
    assert(math.abs(r.getDouble(4) - 1.0 / 6.0) < 1e-12)
    assert(!r.getBoolean(6)) // fewer than 5 tokens -> drop
  }

  test("languageId picks the dominant stopword profile") {
    val d = docs(
      1L -> "the cat is in the hat and it is for fun",
      2L -> "el perro y la casa de un amigo es por aqui con",
      3L -> "le chat et les maisons des amis du village est une",
      4L -> "der hund und die katze ist von den mit ein zu",
      5L -> "xyzzy plugh quux")
    val got = TextStats.languageId(d, "doc_id", "text")
      .select("doc_id", "pred_lang")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "en", 2L -> "es", 3L -> "fr", 4L -> "de", 5L -> "und"))
  }

  test("scrub replaces emails, urls, digit runs") {
    val d = docs(1L -> "mail me at Bob.Smith@example.com or https://x.io/page?id=1 code 1234567")
    val r = TextStats.scrub(d, "doc_id", "text").head()
    assert(r.getString(1) == "mail me at <email> or <url> code <num>")
    assert(r.getLong(2) > 0)
  }

  test("repetitionScore finds the dominant token") {
    val d = docs(1L -> "spam spam spam eggs", 2L -> "a b c d")
    val got = TextStats.repetitionScore(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got(1L) == ((3L, 4L, 0.75)))
    assert(got(2L) == ((1L, 4L, 0.25)))
  }

  test("gopherRules: each rule trips independently on a crafted doc") {
    val pass = ("the and " + Seq.fill(38)("word").mkString(" "))
    val d = docs(
      1L -> pass,                                            // all rules pass
      2L -> "the and word word",                             // too few words
      3L -> ("the and " + Seq.fill(38)("ab").mkString(" ")), // mean word len < 3
      4L -> ("the and " + Seq.fill(33)("word").mkString(" ")
        + " # # # # #"),                                     // symbol ratio
      5L -> ("the and " + Seq.fill(28)("word").mkString(" ")
        + Seq.fill(10)(" 123").mkString),                    // alpha words < 4/5
      6L -> Seq.fill(40)("word").mkString(" "))              // no stopwords
    val got = TextStats.gopherRules(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    def rules(id: Long) = (1 to 5).map(i => got(id).getBoolean(5 + i))
    assert(rules(1L) == Seq(true, true, true, true, true))
    assert(got(1L).getBoolean(11)) // keep
    assert(rules(2L) == Seq(false, true, true, true, true))
    assert(rules(3L) == Seq(true, false, true, true, true))
    assert(rules(4L) == Seq(true, true, false, true, true))
    assert(rules(5L) == Seq(true, true, true, false, true))
    assert(rules(6L) == Seq(true, true, true, true, false))
    assert((2L to 6L).forall(id => !got(id).getBoolean(11)))
    // counting columns on the passing doc: 40 words, 3+3+38*4 chars
    assert(got(1L).getLong(1) == 40 && got(1L).getLong(2) == 158)
    assert(got(1L).getLong(5) == 2) // distinct stopwords: the, and
  }

  test("packSequences: greedy budget packing within hash buckets") {
    // one bucket (buckets=1) so the greedy order is just id order
    val d = docs(
      1L -> "a b c",       // 3 tokens
      2L -> "a b c d",     // 4 -> pack 0 holds 3+4=7
      3L -> "a b c d e",   // 5 -> 7+5 > 10, opens pack 1
      4L -> (1 to 12).map(_ => "w").mkString(" "), // 12 > budget -> own pack
      5L -> "a")
    val got = TextStats.packSequences(d, "doc_id", "text", budget = 10L, buckets = 1)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    assert(got(1L) == ((0L, 3L)) && got(2L) == ((0L, 4L)))
    assert(got(3L) == ((1L, 5L)))
    assert(got(4L) == ((2L, 12L))) // oversized doc gets its own pack
    assert(got(5L) == ((3L, 1L)))
    // multi-bucket: same docs partition into independent streams, every
    // pack still respects the budget unless a single doc exceeds it
    val multi = TextStats.packSequences(d, "doc_id", "text", budget = 10L, buckets = 4)
      .groupBy("bucket", "pack_idx").sum("n_tokens")
      .collect().map(_.getLong(2))
    assert(multi.forall(t => t <= 10L || t == 12L))
  }

  test("idBucket and idBucketSql agree for negative ids") {
    // Spark SQL's `%` follows the dividend's sign exactly like DuckDB's,
    // so evaluating the rendered oracle fragment in Spark SQL exercises
    // the same sign behavior the DuckDB oracle sees.
    import spark.implicits._
    val d = Seq(-1L, -42L, -1000002L, -3400000001L, Long.MinValue + 1,
      0L, 7L, 3400000001L).toDF("id")
    val got = d.select(org.apache.spark.sql.functions.col("id"),
        TextStats.idBucket(org.apache.spark.sql.functions.col("id"), 100L).as("b"),
        org.apache.spark.sql.functions.expr(TextStats.idBucketSql("id", 100L)).as("s"))
      .collect()
    got.foreach { r =>
      assert(r.getLong(1) == r.getLong(2), s"id=${r.getLong(0)}")
      assert(r.getLong(1) >= 0 && r.getLong(1) < 100)
    }
  }

  test("decontaminate flags train docs sharing n-grams with the test split") {
    // ids chosen so the split is known: bucket = TextStats.idBucket
    // (wrap-safe mod-before-multiply form), so pick by probing
    val ids = (1L to 200L)
    val bucket = (id: Long) =>
      java.lang.Math.floorMod(java.lang.Math.floorMod(id, 1000003L) * 2654435761L, 100L)
    val testId = ids.find(i => bucket(i) >= 5 && bucket(i) < 10).get
    val trainIds = ids.filter(i => bucket(i) >= 10).take(2)
    val shared = "alpha beta gamma delta epsilon zeta"
    val d = docs(
      testId -> shared,                       // eval doc
      trainIds(0) -> s"prefix words $shared", // contaminated
      trainIds(1) -> "totally different text with many words")
    val got = TextStats.decontaminate(d, "doc_id", "text", n = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.keySet == Set(trainIds(0)))
    assert(got(trainIds(0)) == 3L) // 3 distinct shared 4-grams
  }

  test("ngramTopK counts every occurrence, ordered desc then lexically") {
    val d = docs(1L -> "a b a b a", 2L -> "a b c")
    val got = TextStats.ngramTopK(d, "doc_id", "text", n = 2, k = 10)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    // bigrams: doc1 = [a b, b a, a b, b a], doc2 = [a b, b c]
    assert(got == Seq(("a b", 3L), ("b a", 2L), ("b c", 1L)))
  }

  test("lengthQuantiles: exact interpolated percentiles over token counts") {
    val d = docs(1L -> "a", 2L -> "a b", 3L -> "a b c", 4L -> "a b c d")
    val r = TextStats.lengthQuantiles(d, "doc_id", "text").head()
    assert(r.getLong(0) == 4L && r.getLong(1) == 10L)
    assert(r.getLong(2) == 1L && r.getLong(3) == 4L)
    assert(math.abs(r.getDouble(4) - 2.5) < 1e-12)
    // p50 of [1,2,3,4] = 2.5 -> 2500 milli; p25 = 1.75 -> 1750
    assert(r.getLong(6) == 2500L)
    assert(r.getLong(5) == 1750L)
    // boundedness: the whole op is ONE partial-combined aggregate to a
    // single row — no window operator may appear (an ntile/rank
    // reformulation would plan a corpus-wide single-partition window)
    val plan = TextStats.lengthQuantiles(d, "doc_id", "text")
      .queryExecution.executedPlan
    assert(plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.isEmpty, s"lengthQuantiles must stay window-free:\n$plan")
  }

  test("vocabCoverage: top-V vocab with deterministic tie cut, per-doc OOV") {
    val d = docs(
      1L -> "a a a b b c",   // a:3 b:2 c:1
      2L -> "a b d",         // d:1 — ties c/d broken lexically: c in, d out at V=3
      3L -> "d d")           // d:3 total => freq: a:4 b:3 d:3 c:1 — V=3 cut at (3, 'd')? no:
    // totals: a=4, b=3, d=3, c=1. V=3 -> {a, b, d} (count desc, term asc)
    val got = TextStats.vocabCoverage(d, "doc_id", "text", vocabSize = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L) == ((6L, 1L, 166L))) // c is OOV
    assert(got(2L) == ((3L, 0L, 0L)))
    assert(got(3L) == ((2L, 0L, 0L)))
  }

  test("sourceCapSelect == naive per-source greedy running-sum cut") {
    val docs3 = (0 until 120).map { i =>
      val words = Seq.fill(4 + i % 9)(if (i % 4 == 0) "the" else s"w$i")
      (i.toLong, s"src${i % 3}", words.mkString(" "))
    }
    val df = docs3.toDF("doc_id", "source", "text")
    def naive(cap: Long): Set[Long] = {
      docs3.groupBy(_._2).values.flatMap { grp =>
        val scored = grp.map { case (id, _, t) =>
          val toks = t.split(" ")
          val stop = toks.count(TextStats.enStopwords.contains)
          (id, stop.toLong * 1000 / toks.length, toks.length.toLong)
        }.sortBy { case (id, q, _) => (-q, id) }
        var cum = 0L
        scored.flatMap { case (id, _, n) =>
          cum += n; if (cum <= cap) Some(id) else None
        }
      }.toSet
    }
    Seq(0L, 50L, 137L, 10000L).foreach { cap =>
      val got = TextStats.sourceCapSelect(df, "doc_id", "source", "text", cap)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(got == naive(cap), s"cap $cap")
    }
  }

  test("lmFluency: integer conditional bigram probabilities, floor means") {
    val d = docs(1L -> "a b a b", 2L -> "a c", 3L -> "z")
    // bigrams: d1 = [a b, b a, a b], d2 = [a c], d3 = [z] (min-1 gram)
    // cb: "a b"->2, "b a"->1, "a c"->1, "z"->1
    // cp: a->3, b->1, z->1
    val got = TextStats.lmFluency(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L) == ((3L, 666L + 1000L + 666L, 777L)))
    assert(got(2L) == ((1L, 333L, 333L)))
    assert(got(3L) == ((1L, 1000L, 1000L)))
  }

  test("classifierScore equals a reference hashed-weight model sum") {
    import graft.functions.{HashKernels, TextKernels}
    import org.apache.spark.unsafe.types.UTF8String
    val texts = Seq(1L -> "alpha beta gamma delta", 2L -> "The  THE the", 3L -> "q")
    def expected(t: String): (Long, Long) = {
      val norm = t.trim.toLowerCase.replaceAll("\\s+", " ")
      val hs = TextKernels.wordPortableHashes(UTF8String.fromString(norm)).toLongArray
      val sum = hs.map(h => HashKernels.lehmer3(h % 4096L) % 2001L - 1000L).sum
      (hs.length.toLong, sum)
    }
    val got = TextStats.classifierScore(docs(texts: _*), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(4)))).toMap
    texts.foreach { case (id, t) =>
      val (n, s) = expected(t)
      assert(got(id) == ((n, s, s > 0)), s"doc $id")
    }
  }

  test("classifierScore plan: pure narrow projection, no exchange") {
    val out = TextStats.classifierScore(docs(1L -> "a b c"), "doc_id", "text")
    val plan = out.queryExecution.executedPlan
    assert(plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }.isEmpty, s"classifier scoring must not shuffle:\n$plan")
  }

  test("bpePairStats counts in-word adjacent char pairs, deterministic top-k") {
    val d = docs(1L -> "abab cd", 2L -> "abc a")
    // abab: ab, ba, ab; cd: cd; abc: ab, bc; "a" skipped (len < 2)
    val got = TextStats.bpePairStats(d, "text", k = 10)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == Seq(("ab", 3L), ("ba", 1L), ("bc", 1L), ("cd", 1L)))
  }

  test("fingerprint equals a reference fold and ignores punctuation") {
    val text = "Ab c!"
    val cleaned = "ab c" // lowercased, punct stripped
    val expect = cleaned.foldLeft(0L)((h, c) => (h * 31 + c.toInt) % 1000000007L)
    val d = docs(1L -> text, 2L -> "ab c", 3L -> "AB?? C")
    val got = TextStats.fingerprint(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(1L) == expect)
    assert(got(2L) == expect && got(3L) == expect)
  }

  test("cdcChunks: lossless reassembly, content-defined cuts, edit realignment") {
    val rnd = new scala.util.Random(23)
    val base = (1 to 3000).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val edited = "PREFIX-EDIT " + base // shifts every fixed-size boundary
    val d = docs(1L -> base, 2L -> edited, 3L -> "tiny", 4L -> "")
    val out = TextStats.cdcChunks(d, "doc_id", "text", w = 8, modulus = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4)))

    // chunks concatenate back to the exact document, in idx order
    def reassemble(id: Long) =
      out.filter(_._1 == id).sortBy(_._2).map(_._5).mkString
    assert(reassemble(1L) == base)
    assert(reassemble(2L) == edited)
    assert(reassemble(3L) == "tiny") // shorter than the window: one chunk
    assert(!out.exists(_._1 == 4L), "empty doc yields no chunks")
    assert(out.filter(_._1 == 1L).length > 10, "expected ~len/modulus chunks")
    // starts/lengths are consistent
    out.foreach { case (_, _, start, len, chunk) =>
      assert(chunk.length == len && start >= 1)
    }

    // the CDC property: boundaries depend on content only, so after an
    // inserted prefix the chunk streams realign — the edited doc's
    // chunk multiset shares all but O(1) chunks with the original's
    val c1 = out.filter(_._1 == 1L).map(_._5)
    val c2 = out.filter(_._1 == 2L).map(_._5)
    val shared = c1.toSet.intersect(c2.toSet).size
    assert(shared >= c1.length - 2,
      s"realignment: $shared shared of ${c1.length} (edit must stay local)")
  }

  test("bm25TopK: integer-exact odds-IDF BM25 matches a BigInt replica") {
    import spark.implicits._
    val corpus = Seq(
      1L -> Seq("spark", "spark", "join"), 2L -> Seq("join", "table"),
      3L -> Seq("hash"), 4L -> Seq("the", "table"))
    val docs = corpus.map { case (id, ts) => (id, ts.mkString(" ")) }
      .toDF("doc_id", "text")
    val terms = Seq("spark", "hash")
    val got = TextStats.bm25TopK(docs, "doc_id", "text", terms, k = 10)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // independent BigInt replica of the documented contract
    val n = corpus.size
    val a = corpus.map(_._2.size).sum
    def dfOf(t: String) = corpus.count(_._2.contains(t))
    def score(ts: Seq[String]): BigInt = terms.map { t =>
      val tf = ts.count(_ == t)
      if (tf == 0) BigInt(0)
      else {
        val df = dfOf(t)
        val idf = BigInt(1000000) * (2 * (n - df) + 1) / (2 * df + 1)
        idf * 22 * a * tf / (BigInt(10) * a * tf + 3 * a + 9 * ts.size * n)
      }
    }.sum
    val expect = corpus
      .map { case (id, ts) =>
        (id, ts.size.toLong, score(ts).toLong, terms.count(ts.contains).toLong) }
      .filter(_._4 > 0)
      .sortBy(r => (-r._3, r._1))
    assert(got.toSeq == expect, s"got ${got.toSeq} expect $expect")
    // non-matching docs (2 and 4) never appear
    assert(!got.map(_._1).toSet.exists(Set(2L, 4L)))
  }

  test("bm25TopK: dl normalization ranks the shorter doc higher at equal tf") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spark pad pad pad pad pad pad pad"),
      (2L, "spark pad")).toDF("doc_id", "text")
    val got = TextStats.bm25TopK(docs, "doc_id", "text", Seq("spark"), k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(got.map(_._1).toSeq == Seq(2L, 1L), got.toSeq.toString)
    assert(got(0)._2 > got(1)._2)
  }

  test("ngramNovelty: min-id ownership on a hand corpus") {
    import spark.implicits._
    // n=2 bigrams: doc1 introduces {a b, b c}; doc2 repeats "a b" and
    // introduces {c d}; doc3 is pure boilerplate of doc1
    val docs = Seq((1L, "a b c"), (2L, "a b c d"), (3L, "a b c"))
      .toDF("doc_id", "text")
    val got = TextStats.ngramNovelty(docs, "doc_id", "text", n = 2)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    // doc1: grams {ab, bc}, both first -> 1000; doc2: {ab, bc, cd},
    // only cd novel -> 333; doc3: nothing novel -> 0
    assert(got == Map(1L -> ((2L, 2L, 1000L)), 2L -> ((3L, 1L, 333L)),
      3L -> ((2L, 0L, 0L))), got.toString)
  }

  test("bpeTrainMerges learns rank-ordered merges with greedy non-overlap") {
    import spark.implicits._
    // corpus pairs: "ab" x5 (from abab x2: 2 each + abc: 1), "ba" x2,
    // "bc" x1 -> round 1 merges (a,b). After that, "abab" = (ab)(ab)
    // -> pair (ab,ab) x2 beats (ab,c) x1 -> round 2 merges (ab,ab)
    val d = Seq((1L, "abab abab abc")).toDF("doc_id", "text")
    val merges = TextStats.bpeTrainMerges(d, "text", rounds = 2)
    assert(merges == Seq(("a", "b"), ("ab", "ab")), merges.toString)
    // greedy left-to-right: "aaa" merging (a,a) -> (aa)(a), so round 2
    // pairs are (aa,a) — never the overlapping middle pair
    val d2 = Seq((1L, "aaa aaa")).toDF("doc_id", "text")
    val m2 = TextStats.bpeTrainMerges(d2, "text", rounds = 2)
    assert(m2 == Seq(("a", "a"), ("aa", "a")), m2.toString)
  }

  test("bpeTrainMerges stops when no pairs remain") {
    import spark.implicits._
    val d = Seq((1L, "ab ab")).toDF("doc_id", "text")
    // round 1 merges (a,b); every word is then a single symbol — no
    // pairs left, so rounds 2..5 are skipped, not nulled
    assert(TextStats.bpeTrainMerges(d, "text", rounds = 5) == Seq(("a", "b")))
    // the forced-distributed loop stops identically
    assert(TextStats.bpeTrainMerges(d, "text", rounds = 5,
      driverVocabLimit = 0) == Seq(("a", "b")))
  }

  test("bpeTrainMerges: gated driver loop equals the distributed loop " +
      "merge-for-merge (r21)") {
    import spark.implicits._
    // tie pressure (equal pair counts force the (a asc, b asc) rule),
    // multi-round dependencies, weights > 1, and an empty doc
    val d = Seq((1L, "abab abab abc cab bac"), (2L, "aaa bbb aaa"),
      (3L, "cc cc cc dd"), (4L, "")).toDF("doc_id", "text")
    for (r <- Seq(1, 3, 6)) {
      val fast = TextStats.bpeTrainMerges(d, "text", rounds = r)
      val loop = TextStats.bpeTrainMerges(d, "text", rounds = r,
        driverVocabLimit = 0)
      assert(fast == loop, s"rounds=$r: driver $fast != distributed $loop")
    }
    // empty corpus: both sides return no merges
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(TextStats.bpeTrainMerges(empty, "text", rounds = 3).isEmpty)
    assert(TextStats.bpeTrainMerges(empty, "text", rounds = 3,
      driverVocabLimit = 0).isEmpty)
  }

  test("size dials at or past Int.MaxValue do not overflow the bounded probes") {
    import spark.implicits._
    assert(Spread.probeLimit(0L) == 1 && Spread.probeLimit(Int.MaxValue - 1L) == Int.MaxValue)
    assert(Spread.probeLimit(Int.MaxValue.toLong) == Int.MaxValue)
    assert(Spread.probeLimit(Long.MaxValue) == Int.MaxValue)
    val d = Seq((1L, "abab abab abc cab bac"), (2L, "aaa bbb aaa")).toDF("doc_id", "text")
    val want = TextStats.bpeTrainMerges(d, "text", rounds = 3)
    for (limit <- Seq(Int.MaxValue.toLong, Int.MaxValue + 1L, Long.MaxValue))
      assert(TextStats.bpeTrainMerges(d, "text", rounds = 3, driverVocabLimit = limit) == want,
        s"driverVocabLimit $limit")
  }

  test("bpeEncode emits codepoint/merge token ids in document order") {
    import spark.implicits._
    val d = Seq((1L, "abab abc!"), (2L, "")).toDF("doc_id", "text")
    // merges: (a,b) -> 1114112 (0x110000), (ab,ab) -> 1114113 (pairs
    // with this corpus: words abab, abc -> ab x3, ba x1, bc x1 ->
    // merge1 (a,b); then (ab)(ab) x1, (ab)(c) x1 -> tie on count 1 ->
    // pair asc: ("ab","ab") < ("ab","c") -> merge2 (ab,ab)
    val got = TextStats.bpeEncode(d, "doc_id", "text", rounds = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    // doc 1: "abab" -> [1114113]; "abc" -> [1114112, 99]; "!" -> [33]
    assert(got(1L) == ((4L, "1114113 1114112 99 33")), got.toString)
    assert(got(2L) == ((0L, "")), got.toString) // empty doc: no tokens
  }

  test("bpeEncode treats a supplementary code point as ONE mark token") {
    import spark.implicits._
    // U+1F642 is a surrogate pair in UTF-16; the pretokenizer must
    // step code points, not chars, and id it by codepoint (128578)
    val d = Seq((1L, "ab 🙂 ab")).toDF("doc_id", "text")
    val got = TextStats.bpeEncode(d, "doc_id", "text", rounds = 1)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    // merge 1 = (a,b) -> 0x110000; tokens: [ab] [🙂] [ab]
    assert(got(1L) == ((3L, "1114112 128578 1114112")), got.toString)
  }

  test("bpeEncode merge ids cannot collide with any codepoint token") {
    import spark.implicits._
    // 'ā' is U+0101 = 257 — under a 256+rank scheme it would alias the
    // id of merge round 1 and token_ids would stop being injective;
    // with merge ids at 0x110000+rank the two stay disjoint
    val d = Seq((1L, "abab abc!"), (2L, "ā ā")).toDF("doc_id", "text")
    val got = TextStats.bpeEncode(d, "doc_id", "text", rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    val docIds = got.values.flatMap(_.split(" ").filter(_.nonEmpty).map(_.toLong))
    val mergeIds = docIds.filter(_ >= 0x110000L).toSet
    val charIds = docIds.filter(_ < 0x110000L).toSet
    assert(got(2L).split(" ").forall(_.toLong == 257L), got.toString)
    assert(mergeIds.nonEmpty && charIds.contains(257L) &&
      mergeIds.intersect(charIds).isEmpty, got.toString)
  }

  test("BPE decode inverts encode up to dropped spaces; corrupt stream throws") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, regexp_replace, lower, trim}
    val d = Seq((1L, "the cat the cat mat"),
      (2L, "Caf\u00e9 na\u00efve \ud83d\ude00 mix!"),   // unicode + marks survive
      (3L, "aaaa bbbb aaaa")).toDF("id", "text")
    val got = TextStats.bpeDecode(d, "id", "text", rounds = 6)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val want = d.select(col("id"),
        regexp_replace(regexp_replace(lower(trim(col("text"))), "\\s+", " "),
          " ", "").as("w"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == want, got.toString)
    // a merge-range id absent from the vocabulary fails loudly
    val table = TextStats.bpeTable(TextStats.bpeTrainMerges(d, "text", 2))
    // Catalyst constant-folds the literal stream, so the loud decode
    // failure surfaces directly (unwrapped) at planning time
    val e = intercept[Exception] {
      Seq(Seq(0x110000L + 999L)).toDF("ids")
        .select(graft.functions.text.bpe_decode_ids(col("ids"), table))
        .collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("not in vocabulary")), e.toString)
  }

  test("chunkWindows: overlap, short doc, and count formula") {
    import spark.implicits._
    // 40 words -> nc = 1 + ceil((40-32)/16) = 2; chunk 1 starts at 16
    val words40 = (1 to 40).map(i => s"w$i").mkString(" ")
    val short = "a b c"
    val df = Seq((1L, words40), (2L, short)).toDF("doc_id", "text")
    val rows = TextStats.chunkWindows(df, "doc_id", "text", 32, 16)
      .collect().map(r => (r.getLong(0), r.getAs[Long]("chunk_idx"),
        r.getAs[Long]("start_word"), r.getAs[Long]("n_words"),
        r.getAs[String]("first_word"), r.getAs[String]("last_word")))
      .sortBy(t => (t._1, t._2))
    assert(rows.map(t => (t._1, t._2)).toSeq ==
      Seq((1L, 0L), (1L, 1L), (2L, 0L)))
    // doc 1 chunk 0: words 1..32; chunk 1: words 17..40 (24 words,
    // sharing 16 with chunk 0 -- the overlap contract)
    assert(rows(0) == ((1L, 0L, 0L, 32L, "w1", "w32")))
    assert(rows(1) == ((1L, 1L, 16L, 24L, "w17", "w40")))
    assert(rows(2) == ((2L, 0L, 0L, 3L, "a", "c")))
    intercept[IllegalArgumentException](
      TextStats.chunkWindows(df, "doc_id", "text", 16, 32))
  }
}
