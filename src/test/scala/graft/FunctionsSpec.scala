package graft

import org.apache.spark.sql.functions._

import graft.functions.{Dedup, Similarity, Text, RollingHash}
import graft.multimodal.Multimodal

class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  private def docs(texts: (Long, String)*) =
    spark.createDataset(texts.toSeq).toDF("doc_id", "text")

  test("tokens and shingles") {
    val df = docs((1L, "a b  c d"))
    val toks = df.select(Text.tokens($"text")).head().getSeq[String](0)
    assert(toks === Seq("a", "b", "c", "d"))
    val sh = df.select(Text.shingles($"text", 2)).head().getSeq[String](0)
    assert(sh.sorted === Seq("a b", "b c", "c d"))
  }

  test("bpeTokens: contractions split, runs segmented, same as java-regex reference") {
    val df = docs((1L, "Don't stop! 42nd st., it's  1970's-era."))
    val got = df.select(Text.bpeTokens($"text")).head().getSeq[String](0)
    val ref = Text.bpePattern.r.findAllIn(
      "Don't stop! 42nd st., it's  1970's-era.").toSeq
    assert(got === ref)
    assert(got === Seq("Don", "'t", "stop", "!", "42", "nd", "st", ".,",
      "it", "'s", "1970", "'s", "-", "era", "."))
    // subword count upper-bounds the word count on the same text
    val (ws, bpe) = df.select(Text.nTokens($"text"), Text.nBpeTokens($"text"))
      .as[(Long, Long)].head()
    assert(bpe >= ws)
  }

  test("rolling hash expression matches reference computation") {
    def ref(s: String): Long = {
      var h = 0L
      s.getBytes("UTF-8").foreach(b => h = h * 31L + (b & 0xff))
      h
    }
    val got = docs((1L, "hello world")).select(RollingHash.rolling_hash($"text")).head().getLong(0)
    assert(got === ref("hello world"))
  }

  test("fingerprint = md5 of normalized text") {
    val raw = "  Hello,   WORLD!  42 "
    val norm = "hello world 42"
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(norm.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val got = docs((1L, raw)).select(Text.fingerprint($"text")).head().getString(0)
    assert(got === md)
  }

  test("langId heuristic") {
    val df = docs(
      (1L, "the cat and the dog sat on it"),
      (2L, "der hund und die katze ist nicht da"),
      (3L, "el perro y el gato es una cosa"),
      (4L, "xyzzy plugh"),
      (5L, "这是 中文 文本"))
    val got = df.select($"doc_id", Text.langId($"text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got(1L) === "en")
    assert(got(2L) === "de")
    assert(got(3L) === "es")
    assert(got(4L) === "und")
    assert(got(5L) === "zh")
  }

  test("qualityScore in [0,1], empty text scores 0") {
    val df = docs((1L, "a decent length sentence with several plain words"),
      (2L, ""), (3L, "!!!! ???? ;;;;"))
    val got = df.select($"doc_id", Text.qualityScore($"text")).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(got.values.forall(v => v >= 0.0 && v <= 1.0))
    assert(got(2L) === 0.0)
    assert(got(1L) > got(3L))
  }

  test("minhash estimates jaccard") {
    val a = (1 to 100).map(i => s"tok$i")
    val b = (51 to 150).map(i => s"tok$i") // true jaccard = 50/150 = 1/3
    val sa = Dedup.minHashSignature(a, 96)
    val sb = Dedup.minHashSignature(b, 96)
    val est = sa.zip(sb).count { case (x, y) => x == y }.toDouble / 96
    assert(math.abs(est - 1.0 / 3) < 0.15, s"est=$est")
    // determinism
    assert(sa.toSeq === Dedup.minHashSignature(a, 96).toSeq)
  }

  test("simhash: permutation-invariant, differs across disjoint token sets") {
    val toks = Seq("alpha", "beta", "gamma", "delta", "epsilon")
    assert(Dedup.simHash64(toks) === Dedup.simHash64(scala.util.Random.shuffle(toks)))
    val other = Seq("one", "two", "three", "four", "five")
    assert(Dedup.simHash64(toks) !== Dedup.simHash64(other))
  }

  test("simhash codegen expression is bit-identical to the UDF") {
    import org.apache.spark.sql.functions.col
    val df = spark.createDataset(Seq(
      Seq("alpha", "beta", "gamma"),
      Seq("the", "quick", "brown", "fox", "the"),
      Seq.empty[String]
    )).toDF("toks")
    val both = df.select(
      Dedup.simHash(col("toks")).as("expr"),
      Dedup.simhashUdf(col("toks")).as("udf")).collect()
    both.foreach(r => assert(r.getLong(0) === r.getLong(1)))
  }

  test("verifiedNearDupPairs finds a permuted near-dup and skips unrelated") {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val permuted = (1 to 40).map(i => s"w$i").reverse.mkString(" ")
    val unrelated = (100 to 140).map(i => s"v$i").mkString(" ")
    val df = docs((1L, base), (2L, permuted), (3L, unrelated))
    val pairs = Dedup.verifiedNearDupPairs(df, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // reversed word order shares reversed bigrams only — use unigram check:
    // bigrams of a reversed doc are reversed pairs, so jaccard is ~0; instead
    // a true near-dup (one word changed) must be found:
    val nearDup = base.replace("w40", "changed")
    val df2 = docs((1L, base), (2L, nearDup), (3L, unrelated))
    val pairs2 = Dedup.verifiedNearDupPairs(df2, "doc_id", "text", threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs2.toSeq === Seq((1L, 2L)))
    assert(!pairs.exists(p => p._2 == 3L || p._1 == 3L))
  }

  test("verifiedNearDupPairs identical-text collapse: expansion equals " +
      "brute force; empty docs excluded") {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val nearDup = base.replace("w40", "changed")
    val other = (100 to 140).map(i => s"v$i").mkString(" ")
    // two exact-dup groups (3 and 2 copies), a near-dup of group 1, one
    // unrelated doc, and two empty docs (identical text, empty shingle
    // sets — the direct path's NaN-jaccard drop must be preserved)
    val df = docs((1L, base), (2L, base), (3L, base), (4L, nearDup),
      (5L, other), (6L, other), (7L, ""), (8L, ""))
    val got = Dedup.verifiedNearDupPairs(df, "doc_id", "text", threshold = 0.8)
      .select($"id_a", $"id_b", $"jaccard").as[(Long, Long, Double)]
      .collect().toSet
    def sh(s: String) = s.split(" ").filter(_.nonEmpty).sliding(2)
      .filter(_.length == 2).map(_.mkString(" ")).toSet
    val texts = Map(1L -> base, 2L -> base, 3L -> base, 4L -> nearDup,
      5L -> other, 6L -> other, 7L -> "", 8L -> "")
    val expect = (for {
      a <- texts.keys; b <- texts.keys if a < b
      sa = sh(texts(a)); sb = sh(texts(b))
      u = (sa ++ sb).size if u > 0
      j = (sa & sb).size.toDouble / u if j >= 0.8
    } yield (a, b, j)).toSet
    assert(got === expect) // incl. all intra-group pairs, no (7,8)
    // keep-corpus consistency: first member of every group survives
    val kept = Dedup.nearDupKeepCorpus(df, "doc_id", "text", 0.8)
      .select($"doc_id").as[Long].collect().toSet
    assert(kept === Set(1L, 5L, 7L, 8L))
  }

  test("linear keep/cluster derivations equal the pairs-derived forms on " +
      "an adversarial mega-group corpus") {
    // One 200-copy identical group (the regime whose g·(g−1)/2 intra
    // expansion the linear derivation bypasses), a near-dup bridging TO a
    // member of that group via a rep pair, a 2-copy group near-dup'd to
    // nothing, empty docs, and singletons. Ids interleave so group minima
    // are not contiguous.
    val mega = (1 to 60).map(i => s"m$i").mkString(" ")
    val megaNear = mega.replace("m60", "changed")
    val two = (200 to 240).map(i => s"t$i").mkString(" ")
    val rows =
      (0 until 200).map(i => (10L + 3 * i, mega)) ++
        Seq((5L, megaNear), (2L, two), (700L, two), (3L, ""), (9L, ""),
          (4L, "solo doc body here"), (8L, "another unrelated body"))
    val df = spark.createDataset(rows).toDF("doc_id", "text")
    val keepNew = Dedup.nearDupKeepCorpus(df, "doc_id", "text", 0.8)
      .select($"doc_id").as[Long].collect().toSet
    val keepOld = Dedup.nearDupKeepCorpusViaPairs(df, "doc_id", "text", 0.8)
      .select($"doc_id").as[Long].collect().toSet
    assert(keepNew === keepOld)
    // the near-dup (id 5) bridges into the mega group whose min is 10;
    // 5 < 10 so 5 survives and the WHOLE mega group drops
    assert(keepNew === Set(5L, 2L, 3L, 9L, 4L, 8L))
    val cNew = Dedup.dupClusters(df, "doc_id", "text", 0.8)
      .as[(Long, Long)].collect().toMap
    val cOld = Dedup.dupClustersViaPairs(df, "doc_id", "text", 0.8)
      .as[(Long, Long)].collect().toMap
    assert(cNew === cOld)
    assert(cNew(10L) === 5L && cNew(607L) === 5L && cNew(5L) === 5L)
    assert(cNew(700L) === 2L && cNew(3L) === 3L && cNew(9L) === 9L)
  }

  test("canonicalUrl: variant URLs collapse to one dedup key; idempotent") {
    val variants = Seq(
      "HTTPS://WWW.Host.COM/p/?b=2&a=1#frag",
      "https://host.com/p?a=1&b=2&utm_source=x",
      "https://Host.com/p/?utm_campaign=z&b=2&a=1",
      "https://www.host.com/p?gclid=abc&b=2&a=1&fbclid=d&ref=hn")
    val df = spark.createDataset(variants.zipWithIndex.map { case (u, i) => (i.toLong, u) })
      .toDF("id", "url")
    val canon = df.select(Text.canonicalUrl($"url")).as[String].collect().distinct
    assert(canon.toSeq === Seq("https://host.com/p?a=1&b=2"))
    // no-query, root-path, and fragment-only shapes
    val more = spark.createDataset(Seq(
      (1L, "http://A.example.org/"),
      (2L, "http://a.example.org"),
      (3L, "https://x.io/path/sub/#s"))).toDF("id", "url")
    val got = more.select($"id", Text.canonicalUrl($"url")).as[(Long, String)]
      .collect().toMap
    assert(got(1L) === "http://a.example.org")
    assert(got(2L) === "http://a.example.org")
    assert(got(3L) === "https://x.io/path/sub")
    // idempotence: canonicalizing a canonical key is the identity
    val twice = df.select(
      Text.canonicalUrl(Text.canonicalUrl($"url")) === Text.canonicalUrl($"url"))
      .as[Boolean].collect()
    assert(twice.forall(identity))
    // UNPARSEABLE URLs canonicalize to THEMSELVES (raw-URL fallback), so
    // two malformed crawl URLs never share a null dedup key; null stays
    // null
    val bad = spark.createDataset(Seq(
      (1L, "host.com/p?b=2&a=1"),          // schemeless
      (2L, "not a url at all"),            // garbage
      (3L, "other.org/q"),                 // schemeless, different page
      (4L, null.asInstanceOf[String]))).toDF("id", "url")
    val badGot = bad.select($"id", Text.canonicalUrl($"url").as("c"))
      .as[(Long, Option[String])].collect().toMap
    assert(badGot(1L) === Some("host.com/p?b=2&a=1"))
    assert(badGot(2L) === Some("not a url at all"))
    assert(badGot(3L) === Some("other.org/q"))
    assert(badGot(4L) === None)
    // distinct malformed URLs keep distinct keys (the pre-fix behavior
    // collapsed them all onto null)
    assert(Seq(badGot(1L), badGot(2L), badGot(3L)).distinct.size === 3)
  }

  test("nfcNormalize composes decomposed sequences; idempotent; null-safe") {
    val df = Seq(
      (1L, "Café"),        // e + combining acute -> é
      (2L, "Café"),         // already precomposed
      (3L, "Ångström"), // decomposed Å and ö
      (4L, null.asInstanceOf[String])).toDF("id", "t")
    val got = df.select($"id", Text.nfcNormalize($"t").as("n"))
      .as[(Long, Option[String])].collect().sortBy(_._1)
    assert(got(0)._2 === got(1)._2)           // both normalize to the same é
    assert(got(0)._2.get === "Café")
    assert(got(2)._2.get === "Ångström")
    assert(got(3)._2 === None)
    // idempotence: normalizing twice is the identity on the first pass
    val twice = df.filter($"t".isNotNull)
      .select(Text.nfcNormalize(Text.nfcNormalize($"t")) ===
        Text.nfcNormalize($"t")).as[Boolean].collect()
    assert(twice.forall(identity))
  }

  test("jaccardJoinExact equals brute force (incl. edge sets) at several thresholds") {
    // brute-force reference over distinct bigram-shingle sets
    def brute(df: org.apache.spark.sql.DataFrame, t100: Int) = {
      val sets = df.select($"doc_id", Text.shingles($"text", 2).as("ws"))
      val a = sets.select($"doc_id".as("id_a"), $"ws".as("ws_a"))
      val b = sets.select($"doc_id".as("id_b"), $"ws".as("ws_b"))
      val inter = size(array_intersect($"ws_a", $"ws_b")).cast("long")
      val uni = (size($"ws_a") + size($"ws_b")).cast("long") - inter
      a.join(b, $"id_a" < $"id_b")
        .withColumn("i", inter).withColumn("u", uni)
        .filter($"u" > 0 && $"i" * 100 >= $"u" * t100)
        .select($"id_a", $"id_b", $"i", $"u")
        .as[(Long, Long, Long, Long)].collect().toSet
    }
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    val df = docs(
      (1L, base),
      (2L, base),                        // identical -> jaccard 1
      (3L, base.replace("w30", "x")),    // near dup
      (4L, (1 to 30).map(i => s"v$i").mkString(" ")), // unrelated
      (5L, ""),                          // empty set: must never pair
      (6L, ""),                          // second empty set
      (7L, "a b"),                       // singleton shingle set
      (8L, "a b"))                       // identical singleton
    for (t100 <- Seq(50, 80, 100)) {
      val got = Dedup.jaccardJoinExact(df, "doc_id", "text", t100)
        .select($"id_a", $"id_b", $"inter_n", $"union_n")
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(got === brute(df, t100), s"t100=$t100")
    }
    // the exactness claim vs LSH: a pair LSH could miss is still found
    val got80 = Dedup.jaccardJoinExact(df, "doc_id", "text", 80)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(got80.contains((1L, 2L)) && got80.contains((7L, 8L)))
    assert(!got80.exists(p => p._1 == 5L || p._2 == 5L || p._1 == 6L || p._2 == 6L))
  }

  test("jaccardJoinExact plan has no cartesian/nested-loop join") {
    val df = docs((1L, "a b c d e"), (2L, "a b c d f"), (3L, "z y x w v"))
    val plan = Dedup.jaccardJoinExact(df, "doc_id", "text", 80)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"prefix-filter join must stay an equi-join, plan:\n$plan")
  }

  test("simhashNearDupPairs: exact dups found, equals brute force, d>bands-1 rejected") {
    val base = "the quick brown fox jumps over the lazy dog again and again for measure"
    val df = docs(
      0L -> base,
      1L -> base, // exact dup: hamming 0, must always be found
      2L -> base.replace("lazy", "sleepy"),
      3L -> "completely different content about distributed analytics engines",
      4L -> "lorem ipsum dolor sit amet consectetur adipiscing elit sed tempor")
    val pairs = Dedup.simhashNearDupPairs(df, "doc_id", "text",
        maxHamming = 3, bands = 4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)))
    val sigs = df.select($"doc_id", Dedup.simHash(Text.tokens($"text")).as("sig"))
    val bf = sigs.as("x").join(sigs.as("y"), expr("x.doc_id < y.doc_id"))
      .filter(bit_count($"x.sig".bitwiseXOR($"y.sig")) <= 3)
      .select($"x.doc_id", $"y.doc_id").as[(Long, Long)].collect().toSet
    assert(pairs === bf)
    intercept[IllegalArgumentException] {
      Dedup.simhashNearDupPairs(df, "doc_id", "text", maxHamming = 4, bands = 4)
    }
  }

  test("bucket cap: aggregate + anti-join equals the window cap; no Sort/Window in plan") {
    // fixture with one degenerate content group (identical docs share every
    // band bucket) plus normal docs — the oversized-bucket case the cap is for
    val dupGroup = (1 to 30).map(i => (100L + i, "dup dup dup dup dup"))
    val normal = Seq((1L, "alpha beta gamma delta"), (2L, "epsilon zeta eta theta"))
    val df = docs((normal ++ dupGroup): _*)
    val bt = Dedup.minhashBands(df, "doc_id", "text")
    for (cap <- Seq(5, 1000)) {
      val agg = Dedup.dropOversizedBuckets(bt, Seq("band", "bucket"), cap)
        .select($"doc_id", $"band", $"bucket").as[(Long, Int, Long)].collect().toSet
      val win = Dedup.dropOversizedBucketsWindow(bt, Seq("band", "bucket"), cap)
        .select($"doc_id", $"band", $"bucket").as[(Long, Int, Long)].collect().toSet
      assert(agg === win, s"cap=$cap")
    }
    // cap=5 must actually drop the 30-identical-doc buckets
    assert(Dedup.dropOversizedBuckets(bt, Seq("band", "bucket"), 5).count() < bt.count())
    // the judged plan property: the cap no longer sort-shuffles the band table
    for (plan <- Seq(
        Dedup.lshCandidatePairs(df, "doc_id", "text")
          .queryExecution.executedPlan.toString,
        Dedup.simhashNearDupPairs(df, "doc_id", "text")
          .queryExecution.executedPlan.toString)) {
      assert(!plan.contains("Window"), s"no window in the cap path:\n$plan")
      assert(!plan.contains("Sort"), s"no sort in the cap path:\n$plan")
    }
  }

  test("cosine of unit vectors") {
    val df = spark.createDataset(Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)), (3L, Array(3.0f, 0.0f))))
      .toDF("id", "v")
    val a = df.filter($"id" === 1).select($"v".as("va"))
    val pairs = a.crossJoin(df.filter($"id" =!= 1))
      .select($"id", Similarity.cosine($"va", $"v").as("c"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(math.abs(pairs(2L) - 0.0) < 1e-12)
    assert(math.abs(pairs(3L) - 1.0) < 1e-12)
  }

  test("codegen'd cosine_sim equals the HOF formulation bit-for-bit") {
    val rng = new scala.util.Random(11)
    val vecs = (0L until 50L).map { i =>
      (i, Array.fill(64)(rng.nextGaussian().toFloat),
        Array.fill(64)(rng.nextGaussian().toFloat))
    }
    val df = spark.createDataset(vecs).toDF("id", "a", "b")
    val both = df.select(
        Similarity.cosine($"a", $"b").as("expr"),
        Similarity.cosineHof($"a", $"b").as("hof"))
      .collect().map(r => (r.getDouble(0), r.getDouble(1)))
    both.foreach { case (e, h) =>
      assert(java.lang.Double.doubleToLongBits(e) ===
        java.lang.Double.doubleToLongBits(h))
    }
    // and from SQL
    df.createOrReplaceTempView("cos_t")
    val viaSql = spark.sql("SELECT cosine_sim(a, b) FROM cos_t").collect().map(_.getDouble(0))
    assert(viaSql.toSeq === both.map(_._1).toSeq)
  }

  test("cosine_sim rejects non-float arrays at analysis time") {
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT cosine_sim(array(1.0D, 2.0D), array(3.0D, 4.0D))").collect()
    }
    assert(err.getMessage.contains("array<float>"))
  }

  test("bruteForceTopK returns the nearest vector first") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f, 0.0f)), // closest to 0
      (2L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (3L, Array(0.0f, 0.0f, 1.0f, 0.0f)))
    val df = spark.createDataset(vecs).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(df, "vec_id", "embedding", Seq(0L), 2)
      .collect().map(r => (r.getLong(1), r.getInt(3)))
    assert(top.head._1 === 1L)
  }

  test("ivfTopK with nProbe = nCells equals brute force; partial probe has recall") {
    val rng = new scala.util.Random(7)
    val vecs = (0L until 200L).map { i =>
      (i, Array.fill(16)(rng.nextGaussian().toFloat))
    }
    val df = spark.createDataset(vecs).toDF("vec_id", "embedding")
    val queries = Seq(0L, 1L, 2L, 3L, 4L)
    def asMap(r: org.apache.spark.sql.DataFrame) =
      r.collect().map(x => (x.getLong(0), x.getInt(3)) -> x.getLong(1)).toMap
    val brute = asMap(Similarity.bruteForceTopK(df, "vec_id", "embedding", queries, 3))
    // full probe: identical ranking to brute force
    val full = asMap(Similarity.ivfTopK(df, "vec_id", "embedding", queries,
      k = 3, nCells = 8, nProbe = 8))
    assert(full === brute)
    // partial probe: approximate — require >= 60% of true top-3 recalled
    val part = Similarity.ivfTopK(df, "vec_id", "embedding", queries,
        k = 3, nCells = 8, nProbe = 3)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    val trueSet = brute.map { case ((q, _), n) => (q, n) }.toSet
    val recall = trueSet.count(part.contains).toDouble / trueSet.size
    assert(recall >= 0.6, s"IVF recall too low: $recall")
  }

  test("ivfAssign: sizing-count scan refused on a large input (scale guard)") {
    // plan-statistics bytes gate the sampleFraction = 0.0 convenience
    // default BEFORE any job runs — spark.range's stats are size-estimated
    // (8 bytes/row), so this never materializes the 4B rows
    val big = spark.range(4L * 1000 * 1000 * 1000)
      .select(col("id").as("vec_id"), array(lit(1.0f)).as("embedding"))
    val e = intercept[IllegalArgumentException] {
      Similarity.ivfAssign(big, "vec_id", "embedding")
    }
    assert(e.getMessage.contains("sampleFraction"))
    // small input: the default still works
    val small = spark.createDataset(Seq((0L, Array(1.0f)), (1L, Array(2.0f))))
      .toDF("vec_id", "embedding")
    val (indexed, cents) = Similarity.ivfAssign(small, "vec_id", "embedding",
      nCells = 1)
    assert(cents.nonEmpty && indexed.count() === 2L)
    // stats-less input (RDD-backed LogicalRDD reports the
    // defaultSizeInBytes sentinel, not a measurement): treated as
    // UNKNOWN, so the tiny frame is not spuriously refused
    import org.apache.spark.sql.types._
    val rdd = spark.sparkContext.parallelize(Seq(
      org.apache.spark.sql.Row(0L, Seq(1.0f)),
      org.apache.spark.sql.Row(1L, Seq(2.0f))))
    val statless = spark.createDataFrame(rdd, StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)))))
    assert(statless.queryExecution.optimizedPlan.stats.sizeInBytes ==
      spark.sessionState.conf.defaultSizeInBytes,
      "fixture must actually be stats-less for this test to mean anything")
    val (idx2, cents2) = Similarity.ivfAssign(statless, "vec_id", "embedding",
      nCells = 1)
    assert(cents2.nonEmpty && idx2.count() === 2L)
  }

  test("gearChunkBytes: tiling on raw binary (null/high bytes), min size, locality") {
    val rng = new scala.util.Random(59)
    // raw bytes incl. NUL and high bytes — the binary-column case the
    // token CDC can't touch
    val payload = Array.fill(4096)(rng.nextInt(256).toByte)
    val rows = Seq((1L, payload), (2L, Array[Byte](7)), (3L, Array.empty[Byte]))
    val df = spark.createDataset(rows).toDF("doc_id", "bytes")
    val got = graft.functions.Corpus.gearChunkBytes(df, "doc_id", col("bytes"),
        maskBits = 6, minSize = 16)
      .orderBy("doc_id", "chunk_idx")
      .as[(Long, Int, Long, Long, Long, String)].collect().toSeq
    val byDoc = got.groupBy(_._1)
    assert(!byDoc.contains(3L)) // empty payload: no chunks
    assert(byDoc(2L).map(t => (t._3, t._4)) === Seq((1L, 1L))) // 1-byte doc
    val c1 = byDoc(1L)
    assert(c1.head._3 === 1L && c1.last._4 === 4096L)
    c1.sliding(2).foreach {
      case Seq(a, b) => assert(b._3 === a._4 + 1)
      case _ =>
    }
    // every chunk except possibly the last respects the minimum size
    assert(c1.init.forall(_._5 >= 16L))
    // boundaries agree with the plain-JVM reference walk
    val ref = graft.functions.GearCdc.boundaries(payload, 6, 16)
    assert(c1.map(_._4) === ref.toSeq)
    // locality: prepending bytes preserves all chunk hashes after the
    // first boundary that clears the 6-byte window + min-size warm-up
    val shifted = spark.createDataset(Seq((1L, Array[Byte](1, 2, 3) ++ payload)))
      .toDF("doc_id", "bytes")
    val got2 = graft.functions.Corpus.gearChunkBytes(shifted, "doc_id",
        col("bytes"), 6, 16)
      .as[(Long, Int, Long, Long, Long, String)].collect().toSeq
    val common = c1.map(_._6).toSet.intersect(got2.map(_._6).toSet)
    assert(common.size >= c1.size - 2,
      s"gear CDC lost ${c1.size - common.size} chunks to a 3-byte prepend")
  }

  test("fused minhash_bands expression equals the two-UDF reference pipeline") {
    val rng = new scala.util.Random(23)
    val words = Vector("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh")
    val rows = (0L until 200L).map { i =>
      (i, (0 until 5 + rng.nextInt(40))
        .map(_ => words(rng.nextInt(words.size))).mkString(" "))
    } :+ (999L, "") // empty doc: no shingles, but still `bands` bucket rows
    val df = spark.createDataset(rows).toDF("doc_id", "text")
    for ((nh, nb) <- Seq((96, 24), (64, 16), (8, 8))) {
      val fused = Dedup.minhashBands(df, "doc_id", "text", nh, nb)
        .as[(Long, Int, Long)].collect().toSet
      val ref = Dedup.minhashBandsUdf(df, "doc_id", "text", nh, nb)
        .as[(Long, Int, Long)].collect().toSet
      assert(fused === ref, s"numHashes=$nh bands=$nb")
      assert(fused.size === rows.size * nb, s"numHashes=$nh bands=$nb")
    }
    // wrong input type is rejected loudly at analysis
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      df.select(graft.functions.MinHashBandsExpr.minhash_bands(
        col("doc_id"), 8, 4)).collect()
    }
    assert(err.getMessage.contains("array<string>"))
  }

  test("semanticNearDupPairs nCells=1 is exact; cell split only removes pairs") {
    val rng = new scala.util.Random(3)
    val base = (0L until 120L).map { i =>
      (i, Array.fill(16)(rng.nextGaussian().toFloat))
    }
    // plant near-dups of vectors 5 and 9 at higher ids
    val planted = Seq(5L, 9L).zipWithIndex.map { case (src, j) =>
      val v = base(src.toInt)._2.clone(); v(0) += 0.01f
      (1000L + j, v)
    }
    val df = spark.createDataset(base ++ planted).toDF("vec_id", "embedding")
    val exact = Similarity.semanticNearDupPairs(df, "vec_id", "embedding",
        minCosine = 0.95, nCells = 1)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact === Set((5L, 1000L), (9L, 1001L)))
    // any cell partition yields a subset of the exact pair set
    val bucketed = Similarity.semanticNearDupPairs(df, "vec_id", "embedding",
        minCosine = 0.95, nCells = 4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(bucketed.subsetOf(exact))
    // keep: first-wins drops the higher id of each pair
    val kept = Similarity.semanticDedupKeep(df, "vec_id", "embedding",
        minCosine = 0.95, nCells = 1)
      .select("vec_id").as[Long].collect().toSet
    assert(kept === base.map(_._1).toSet)
  }

  test("indexed SemDeDup: stored assignment is stable and keep matches pairs") {
    val rng = new scala.util.Random(17)
    val base = (0L until 120L).map { i =>
      (i, Array.fill(16)(rng.nextGaussian().toFloat))
    }
    val planted = Seq(5L, 9L).zipWithIndex.map { case (src, j) =>
      val v = base(src.toInt)._2.clone(); v(0) += 0.01f
      (1000L + j, v)
    }
    val df = spark.createDataset(base ++ planted).toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft-semdedup-spec")
    Similarity.ivfWrite(df, "vec_id", "embedding", dir.toString,
      nCells = 4, sampleFraction = 0.5)
    def pairs() = Similarity.semanticNearDupPairsIndexed(spark,
        dir.toString, minCosine = 0.95)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val p1 = pairs()
    assert(p1 === pairs()) // stored assignment ⇒ identical re-reads
    // planted pairs survive any cell split only if co-located — at
    // minimum the keep set must equal corpus minus the pairs' high ids
    val kept = Similarity.semanticDedupKeepIndexed(spark, dir.toString,
        minCosine = 0.95)
      .select("vec_id").as[Long].collect().toSet
    assert(kept === (base ++ planted).map(_._1).toSet -- p1.map(_._2))
  }

  test("ivfAppend: half-built + half-appended index searches the whole corpus") {
    val rng = new scala.util.Random(11)
    val vecs = (0L until 200L).map { i =>
      (i, Array.fill(16)(rng.nextGaussian().toFloat))
    }
    val df = spark.createDataset(vecs).toDF("vec_id", "embedding")
    val base = java.nio.file.Files.createTempDirectory("graft-ivf-append")
    Similarity.ivfWrite(df.filter(col("vec_id") % 2 === 0), "vec_id",
      "embedding", base.toString, nCells = 8, sampleFraction = 0.5)
    Similarity.ivfAppend(df.filter(col("vec_id") % 2 === 1), "vec_id",
      "embedding", base.toString)
    val queries = vecs.take(5).map { case (i, v) => (i, v) }
    // full probe over the maintained index == brute force over everything
    val got = Similarity.ivfSearch(spark, base.toString, queries, k = 3,
        nProbe = 8)
      .collect().map(x => (x.getLong(0), x.getInt(3)) -> x.getLong(1)).toMap
    val brute = Similarity.bruteForceTopK(df, "vec_id", "embedding",
        queries.map(_._1), 3)
      .collect().map(x => (x.getLong(0), x.getInt(3)) -> x.getLong(1)).toMap
    assert(got === brute)
    // appended rows landed in valid cells: stats cover all 200 vectors,
    // every cell id is one of the index's centroids, skew is positive
    val centroidIds = spark.read.parquet(s"$base/centroids")
      .collect().map(_.getInt(0)).toSet
    val stats = Similarity.ivfCellStats(spark, base.toString).collect()
    assert(stats.map(_.getLong(1)).sum === 200L)
    assert(stats.map(_.getInt(0)).toSet.subsetOf(centroidIds))
    assert(stats.forall(_.getDouble(2) > 0))
    // deterministic assignment: an appended vector lands exactly where a
    // fresh full build would put it (same centroids -> same cells)
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(base).iterator().asScala.toSeq.reverse
      .foreach(java.nio.file.Files.delete)
  }

  test("ivfRecluster: build-aside rebuild preserves rows and full-probe answers") {
    val rng = new scala.util.Random(13)
    val vecs = (0L until 200L).map { i =>
      (i, Array.fill(16)(rng.nextGaussian().toFloat))
    }
    val df = spark.createDataset(vecs).toDF("vec_id", "embedding")
    val base = java.nio.file.Files.createTempDirectory("graft-ivf-recl")
    val v1 = s"$base/v1"; val v2 = s"$base/v2"
    // v1: deliberately coarse (2 cells) + appended drift
    Similarity.ivfWrite(df.filter(col("vec_id") % 2 === 0), "vec_id",
      "embedding", v1, nCells = 2, sampleFraction = 0.5)
    Similarity.ivfAppend(df.filter(col("vec_id") % 2 === 1), "vec_id",
      "embedding", v1)
    Similarity.ivfRecluster(spark, v1, v2, nCells = 8, seed = 7L,
      sampleFraction = 0.5)
    // every row preserved, cells re-derived against the NEW centroid set
    assert(spark.read.parquet(s"$v2/corpus").count() === 200L)
    val newCells = Similarity.ivfCellStats(spark, v2).collect()
    assert(newCells.map(_.getLong(1)).sum === 200L)
    assert(newCells.length > 2, "recluster should spread over the new cells")
    // answers invariant: full probe over v2 == brute force
    val queries = vecs.take(5)
    val got = Similarity.ivfSearch(spark, v2, queries, k = 3, nProbe = 8)
      .collect().map(x => (x.getLong(0), x.getInt(3)) -> x.getLong(1)).toMap
    val brute = Similarity.bruteForceTopK(df, "vec_id", "embedding",
        queries.map(_._1), 3)
      .collect().map(x => (x.getLong(0), x.getInt(3)) -> x.getLong(1)).toMap
    assert(got === brute)
    // old index untouched (still serving until the caller swaps)
    assert(spark.read.parquet(s"$v1/corpus").count() === 200L)
    intercept[IllegalArgumentException] {
      Similarity.ivfRecluster(spark, v1, v1)
    }
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(base).iterator().asScala.toSeq.reverse
      .foreach(java.nio.file.Files.delete)
  }

  test("lshNearPairs finds near-identical vectors") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.2f, -0.3f, 0.5f)),
      (1L, Array(1.0f, 0.21f, -0.29f, 0.5f)), // near-dup of 0
      (2L, Array(-1.0f, 0.9f, 0.3f, -0.7f)))
    val df = spark.createDataset(vecs).toDF("vec_id", "embedding")
    val pairs = Similarity.lshNearPairs(df, "vec_id", "embedding",
        minCosine = 0.99, bits = 8, dim = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq === Seq((0L, 1L)))
  }

  test("lang_id and simhash64 are callable from SQL after registration") {
    val lang = spark.sql("SELECT lang_id('the quick brown fox and the lazy dog') AS l")
      .head().getString(0)
    assert(lang === "en")
    val sh = spark.sql("SELECT simhash64(array('a','b','c')) AS h").head().getLong(0)
    assert(sh === graft.functions.Dedup.simHash64(Seq("a", "b", "c")))
    val nfc = spark.sql("SELECT nfc_normalize('Café') AS n")
      .head().getString(0)
    assert(nfc === "Café")
  }

  test("rolling_hash is callable from SQL after registration") {
    val got = spark.sql("SELECT rolling_hash('abc') AS h").head().getLong(0)
    var want = 0L
    "abc".getBytes("UTF-8").foreach(b => want = want * 31L + (b & 0xff))
    assert(got === want)
  }

  test("the suite session resolves every graft SQL function without a register call") {
    val names = Seq("rolling_hash", "token_count", "cosine_sim", "lang_id",
      "nfc_normalize", "simhash64")
    assert(GraftExtensions.functions.map(_._1).sorted === names.sorted)
    val decomposed = "e\u0301"
    val r = spark.sql(s"""SELECT rolling_hash('abc'), token_count('a b c'),
      cosine_sim(array(1.0F, 0.0F), array(1.0F, 0.0F)), lang_id('the quick brown fox and the lazy dog'),
      nfc_normalize('$decomposed'), simhash64(array('a', 'b', 'c'))""").head()
    assert(r.getLong(0) === ((97L * 31 + 98) * 31 + 99))
    assert(r.getLong(1) === 3L)
    assert(r.getDouble(2) === 1.0)
    assert(r.getString(3) === "en")
    assert(r.getString(4) === "\u00e9")
    assert(r.getLong(5) === graft.functions.Dedup.simHash64(Seq("a", "b", "c")))
  }

  test("saltedJoin and saltedAgg equal their unsalted forms on skewed data") {
    import graft.operators.Skew
    // 90% of fact rows share one hot key
    val fact = spark.createDataset((0 until 2000).map { i =>
      (if (i % 10 == 0) i.toLong % 7 else 0L, i.toLong)
    }).toDF("k", "v")
    val dim = spark.createDataset((0L until 7L).map(k => (k, s"name_$k")))
      .toDF("k", "name")
    val plain = fact.join(dim, "k").select("k", "v", "name")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted
    val salted = Skew.saltedJoin(fact, dim, "k", 8).select("k", "v", "name")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted
    assert(salted === plain)

    val plainAgg = fact.groupBy("k")
      .agg(count(lit(1)).as("n"), sum("v").as("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    val saltedAgg = Skew.saltedAgg(fact, "k", 8,
        partials = Seq((count(lit(1)), "pn"), (sum("v"), "ps")),
        merges = Seq((sum("pn"), "n"), (sum("ps"), "s")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(saltedAgg === plainAgg)
  }

  test("multimodal frameSample expands blobs 1->N; resizeStub bounds size") {
    implicit val s = spark
    val big = ("x" * 20000) // ~20 KB → 4 full frames + a partial tail = 5
    val df = Multimodal.packMedia(docs((1L, big), (2L, "tiny")), "doc_id", "text")
    val frames = Multimodal.frameSample(df, stride = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    // doc 1: stride 2 over frames 0..4 → 0,2,4 (4 = partial tail); doc 2: 0
    assert(frames.filter(_._1 == 1L).map(_._2).sorted === Seq(0, 2, 4))
    assert(frames.filter(_._1 == 2L).map(_._2) === Seq(0))
    val sizes = Multimodal.resizeStub(df, 1024)
      .collect().map(r => r.getAs[Array[Byte]]("media").length)
    assert(sizes.forall(_ <= 1024))
  }

  test("multimodal stub decode: deterministic typed features") {
    implicit val s = spark
    val df = docs((1L, "some media payload"), (2L, "other bytes"))
    val metas = Multimodal.decodeStub(Multimodal.packMedia(df, "doc_id", "text"))
      .collect().sortBy(_.doc_id)
    assert(metas.map(_.doc_id).toSeq === Seq(1L, 2L))
    assert(metas.forall(m => m.n_bytes > 0 && m.width >= 64 && m.height >= 64))
    // determinism
    val again = Multimodal.decodeStub(Multimodal.packMedia(df, "doc_id", "text"))
      .collect().sortBy(_.doc_id)
    assert(metas.toSeq === again.toSeq)
  }

  test("real image decode: ImageIO roundtrip of actual PNG/JPEG bytes") {
    implicit val s = spark
    import s.implicits._
    val ids = spark.range(0, 40).select($"id".as("doc_id"))
    val packed = Multimodal.packImages(ids, "doc_id")
    // the media column holds genuine container bytes: PNG/JPEG magic
    val magics = packed.select($"doc_id", $"media").collect()
      .map(r => (r.getLong(0), r.getAs[Array[Byte]]("media")))
    magics.foreach { case (id, b) =>
      if (id % 2 == 0)
        assert((b(0) & 0xff) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G')
      else
        assert((b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8)
    }
    val metas = Multimodal.decodeImages(packed).collect().sortBy(_.doc_id)
    assert(metas.length === 40)
    metas.foreach { m =>
      assert(m.width === 16 + (m.doc_id % 17).toInt)
      assert(m.height === 16 + (m.doc_id % 13).toInt)
      assert(m.channels === 1)
      if (m.kind == "image/png") assert(m.pixel_sum === m.gen_sum) // lossless
      else { // JPEG is lossy but must stay within 2% of the encoded samples
        assert(m.kind === "image/jpeg")
        assert(math.abs(m.pixel_sum - m.gen_sum) <= m.gen_sum * 0.02)
      }
    }
    // external images (no gen_sum column) decode too, with gen_sum = -1
    val ext = Multimodal.decodeImages(packed.drop("gen_sum"))
      .collect().sortBy(_.doc_id)
    assert(ext.map(m => (m.doc_id, m.width, m.height, m.pixel_sum)).toSeq ===
      metas.map(m => (m.doc_id, m.width, m.height, m.pixel_sum)).toSeq)
    assert(ext.forall(_.gen_sum === -1L))
  }

  test("real audio decode: javax.sound roundtrip of actual WAV bytes") {
    implicit val s = spark
    import s.implicits._
    val ids = spark.range(0, 30).select($"id".as("doc_id"))
    val packed = Multimodal.packAudio(ids, "doc_id")
    // genuine RIFF containers
    packed.select($"media").collect().foreach { r =>
      val b = r.getAs[Array[Byte]](0)
      assert(b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F')
    }
    val metas = Multimodal.decodeAudio(packed).collect().sortBy(_.doc_id)
    assert(metas.length === 30)
    metas.foreach { m =>
      assert(m.sample_rate === 8000)
      assert(m.channels === 1)
      assert(m.n_frames === 800 + (m.doc_id % 100) * 8)
      assert(m.abs_sum === m.gen_abs_sum) // PCM16 WAV is lossless
    }
    // external audio (no gen column) → gen_abs_sum = -1, same decode
    val ext = Multimodal.decodeAudio(packed.drop("gen_abs_sum"))
      .collect().sortBy(_.doc_id)
    assert(ext.map(m => (m.doc_id, m.n_frames, m.abs_sum)).toSeq ===
      metas.map(m => (m.doc_id, m.n_frames, m.abs_sum)).toSeq)
    assert(ext.forall(_.gen_abs_sum === -1L))
  }

  test("real video demux: RIFF walk of actual MJPEG-AVI bytes, frames decode") {
    implicit val s = spark
    import s.implicits._
    val ids = spark.range(0, 30).select($"id".as("doc_id"))
    val packed = Multimodal.packVideo(ids, "doc_id")
    // genuine RIFF/AVI containers
    packed.select($"media").collect().foreach { r =>
      val b = r.getAs[Array[Byte]](0)
      assert(b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F')
      assert(b(8) == 'A' && b(9) == 'V' && b(10) == 'I' && b(11) == ' ')
    }
    val frames = Multimodal.demuxVideo(packed)
    // every demuxed frame is a decodable JPEG at the generator dimensions
    val metas = Multimodal.decodeImages(
        frames.select($"doc_id", $"frame".as("media"),
          lit("image/jpeg").as("kind")))
      .collect()
    val byDoc = metas.groupBy(_.doc_id)
    assert(byDoc.keySet === (0L until 30L).toSet)
    val gen = packed.select($"doc_id", $"n_frames", $"gen_sum").collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toMap
    byDoc.foreach { case (id, ms) =>
      val (nf, genSum) = gen(id)
      assert(nf === 3 + (id % 5).toInt)
      assert(ms.length === nf) // demux found every frame, no extras
      ms.foreach { m =>
        assert(m.width === 16 + (id % 9).toInt)
        assert(m.height === 16 + (id % 7).toInt)
        assert(m.channels === 1)
      }
      // JPEG is lossy: decoded sample sum within a mean deviation of
      // 2 gray levels per sample (worst measured over ids 0..6000: 0.64 —
      // wrap-edge frames beat a relative bound, see the q_video_frames gate)
      val npx = ms.map(m => m.width.toLong * m.height).sum
      assert(math.abs(ms.map(_.pixel_sum).sum - genSum) <= 2L * npx)
    }
    // frame_no is the in-container order 0..n-1
    val nos = frames.select($"doc_id", $"frame_no").collect()
      .map(r => (r.getLong(0), r.getInt(1))).groupBy(_._1)
    nos.foreach { case (id, fs) =>
      assert(fs.map(_._2).sorted === (0 until gen(id)._1).toArray)
    }
    // stride sampling keeps exactly the 0,2,4,... demuxed frames
    val sampled = Multimodal.sampleVideoFrames(packed, stride = 2)
      .select($"doc_id", $"frame_no").collect()
      .map(r => (r.getLong(0), r.getInt(1))).groupBy(_._1)
    sampled.foreach { case (id, fs) =>
      assert(fs.map(_._2).sorted === (0 until gen(id)._1 by 2).toArray)
    }
    // demux rejects non-AVI bytes loudly
    val bad = Seq((1L, Array[Byte](1, 2, 3))).toDF("doc_id", "media")
    val e = intercept[org.apache.spark.SparkException] {
      Multimodal.demuxVideo(bad).collect()
    }
    assert(e.getMessage.contains("RIFF") ||
      e.getCause.getMessage.contains("RIFF"))
  }

  test("readMediaDir: binaryFile ingest feeds every decode family") {
    implicit val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-mediadir")
    // write real container files of each kind through the fixture encoders
    val ids = spark.range(0, 4).select($"id".as("doc_id"))
    val pngBytes = Multimodal.packImages(ids.filter($"doc_id" % 2 === 0), "doc_id")
      .select($"doc_id", $"media").collect()
    pngBytes.foreach { r =>
      java.nio.file.Files.write(dir.resolve(s"img_${r.getLong(0)}.png"),
        r.getAs[Array[Byte]](1))
    }
    val wavBytes = Multimodal.packAudio(ids.limit(2), "doc_id")
      .select($"doc_id", $"media").collect()
    wavBytes.foreach { r =>
      java.nio.file.Files.write(dir.resolve(s"aud_${r.getLong(0)}.WAV"),
        r.getAs[Array[Byte]](1))
    }
    val aviBytes = Multimodal.packVideo(ids.limit(1), "doc_id")
      .select($"doc_id", $"media", $"n_frames").collect()
    aviBytes.foreach { r =>
      java.nio.file.Files.write(dir.resolve(s"vid_${r.getLong(0)}.avi"),
        r.getAs[Array[Byte]](1))
    }
    java.nio.file.Files.write(dir.resolve("notes.txt"), "hi".getBytes)

    val media = Multimodal.readMediaDir(spark, dir.toString)
    val byKind = media.groupBy($"kind").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byKind("image/png") === 2L)
    assert(byKind("audio/wav") === 2L) // extension match is case-insensitive
    assert(byKind("video/avi") === 1L)
    assert(byKind("application/octet-stream") === 1L)
    // each family decodes through the standard operators
    val imgs = Multimodal.decodeImages(
      media.filter($"kind" === "image/png")).collect()
    assert(imgs.length === 2 && imgs.forall(m => m.width >= 16 && m.channels === 1))
    val auds = Multimodal.decodeAudio(
      media.filter($"kind" === "audio/wav")).collect()
    assert(auds.length === 2 && auds.forall(_.sample_rate === 8000))
    val frames = Multimodal.demuxVideo(media.filter($"kind" === "video/avi"))
      .count()
    assert(frames === aviBytes.head.getInt(2).toLong)
    // doc_id is a stable path hash: re-reading yields identical ids
    val again = Multimodal.readMediaDir(spark, dir.toString)
      .select($"doc_id").collect().map(_.getLong(0)).sorted
    assert(again === media.select($"doc_id").collect().map(_.getLong(0)).sorted)
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
      .foreach(java.nio.file.Files.delete)
  }

  test("chunkAudio: windowing rule + exact per-chunk |sample| sums") {
    implicit val s = spark
    import s.implicits._
    val ids = spark.range(0, 25).select($"id".as("doc_id"))
    val got = Multimodal.chunkAudio(Multimodal.packAudio(ids, "doc_id"),
        chunkFrames = 512, strideFrames = 384)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> (r.getInt(2), r.getLong(3)))
      .toMap
    // in-memory reference straight from the waveform formulas
    val want = (0L until 25L).flatMap { id =>
      val n = 800 + (id % 100).toInt * 8
      val st = 7 + (id % 89).toInt
      val nChunks = if (n <= 512) 1 else (n - 512 + 383) / 384 + 1
      (0 until nChunks).map { cno =>
        val s0 = cno * 384
        val end = math.min(n, s0 + 512)
        val sum = (s0 until end).map(i =>
          math.abs((i.toLong * st) % 32767L - 16383L)).sum
        (id, cno) -> (end - s0, sum)
      }
    }.toMap
    assert(got === want)
    // guard: stride > chunk rejected
    intercept[IllegalArgumentException] {
      Multimodal.chunkAudio(Multimodal.packAudio(ids, "doc_id"), 10, 11)
    }
  }

  test("patchImages: every pixel in exactly one patch, exact PNG sums") {
    implicit val s = spark
    import s.implicits._
    val ids = spark.range(0, 40).filter($"id" % 2 === 0)
      .select($"id".as("doc_id"))
    val packed = Multimodal.packImages(ids, "doc_id")
    val got = Multimodal.patchImages(packed, pSize = 8).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)) ->
        (r.getInt(3), r.getInt(4), r.getLong(5))).toMap
    val want = (0L until 40L by 2).flatMap { id =>
      val w = 16 + (id % 17).toInt
      val h = 16 + (id % 13).toInt
      for {
        pr <- 0 until (h + 7) / 8
        pc <- 0 until (w + 7) / 8
      } yield {
        val xs = (pc * 8) until math.min(w, pc * 8 + 8)
        val ys = (pr * 8) until math.min(h, pr * 8 + 8)
        val sum = (for (x <- xs; y <- ys) yield (x + y + id) % 256L).sum
        (id, pr, pc) -> (xs.size, ys.size, sum)
      }
    }.toMap
    assert(got === want)
    // partition of the raster: patch sums add up to the whole-image sum
    val gen = packed.select($"doc_id", $"gen_sum").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    got.toSeq.groupBy(_._1._1).foreach { case (id, ps) =>
      assert(ps.map(_._2._3).sum === gen(id))
    }
  }

  test("real image resize: Graphics2D re-raster fits bounds, never upscales") {
    implicit val s = spark
    import s.implicits._
    val ids = spark.range(0, 40).select($"id".as("doc_id"))
    val packed = Multimodal.packImages(ids, "doc_id")
    val resized = Multimodal.resizeImages(packed, maxW = 20, maxH = 20)
    val back = Multimodal.decodeImages(
        resized.select($"doc_id", $"media", lit("image/png").as("kind")))
      .collect().sortBy(_.doc_id)
    back.foreach { m =>
      val w = 16 + (m.doc_id % 17).toInt
      val h = 16 + (m.doc_id % 13).toInt
      val sc = math.min(1.0, math.min(20.0 / w, 20.0 / h))
      assert(m.width === math.max(1, math.floor(w * sc).toInt))
      assert(m.height === math.max(1, math.floor(h * sc).toInt))
      assert(m.width <= 20 && m.height <= 20)
      assert(m.width <= w && m.height <= h) // never upscale
      assert(m.channels === 1) // gray stays single-band
    }
    // deterministic: same input → byte-identical resized PNGs
    val again = Multimodal.resizeImages(packed, maxW = 20, maxH = 20)
      .select($"doc_id", $"media").collect()
      .map(r => (r.getLong(0), r.getAs[Array[Byte]](1).toSeq)).toMap
    resized.select($"doc_id", $"media").collect().foreach { r =>
      assert(again(r.getLong(0)) === r.getAs[Array[Byte]](1).toSeq)
    }
  }

  test("hll sketch columns: pre-aggregated sketches union to the global count") {
    // 7 disjoint groups over 1234 distinct values; union of the per-group
    // sketch VALUES must estimate the global cardinality without a rescan
    val df = (0L until 10000L).map(i => (i % 7, s"v${i % 1234}"))
      .toDF("g", "v")
    val per = df.groupBy($"g").agg(hll_sketch_agg($"v").as("sk"))
    val unionEst = per
      .agg(hll_sketch_estimate(hll_union_agg($"sk")).as("e"))
      .head().getLong(0)
    val directEst = df.agg(hll_sketch_estimate(hll_sketch_agg($"v")).as("e"))
      .head().getLong(0)
    val bound = 3.0 * 1.04 / math.sqrt((1 << 12).toDouble) * 1234
    assert(math.abs(unionEst - 1234L) <= bound, s"union estimate $unionEst")
    assert(math.abs(directEst - 1234L) <= bound, s"direct estimate $directEst")
  }
}
