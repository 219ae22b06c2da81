package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Corpus organization + decontamination + cluster specs: planted cases
  * with hand-checked expectations (the oracle gates the full-corpus
  * runs; these pin the operator semantics on adversarial shapes).
  */
class CorpusSpec extends SparkSpec {
  import spark.implicits._

  test("decontamination flags docs sharing a 3-gram with the holdout, counts distinct grams") {
    val train = Seq(
      (1L, "alpha beta gamma delta"), // shares "alpha beta gamma"+"beta gamma delta"
      (2L, "completely different words here"),
      (3L, "tiny doc"), // < 3 tokens: no shingles, never contaminated
      (4L, "alpha beta gamma alpha beta gamma") // dup grams count ONCE (distinct)
    ).toDF("doc_id", "text")
    val holdout = Seq(
      (100L, "alpha beta gamma delta epsilon")
    ).toDF("doc_id", "text")
    val got = Dedup.decontaminationOverlap(train, holdout, "doc_id", "text")
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === Seq(
      (1L, 2L, 1L), // both its 3-grams leak
      (2L, 0L, 0L),
      (3L, 0L, 0L),
      (4L, 1L, 1L))) // "alpha beta gamma" appears twice but counts once (distinct)
  }

  test("bloom decontamination: zero false negatives, equals exact at generous width") {
    val train = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "completely different words here"),
      (3L, "tiny doc"),
      (4L, "alpha beta gamma alpha beta gamma")
    ).toDF("doc_id", "text")
    val holdout = Seq((100L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val exact = asMap(Dedup.decontaminationOverlap(train, holdout, "doc_id", "text"))
    // generous filter (2^20 bits for 3 grams): fp rate ~0 — bloom == exact
    val bloom = asMap(Dedup.decontaminationOverlapBloom(train, holdout, "doc_id", "text"))
    assert(bloom === exact)
    // under-sized filter (64 bits, 5 hashes for 3 grams -> dense): false
    // positives may appear, false negatives NEVER — every exact flag and
    // count survives as a lower bound
    val tiny = asMap(Dedup.decontaminationOverlapBloom(train, holdout, "doc_id", "text",
      numBits = 64))
    exact.foreach { case (id, (nOv, flag)) =>
      val (tOv, tFlag) = tiny(id)
      assert(tOv >= nOv, s"doc $id lost overlaps: bloom=$tOv exact=$nOv")
      assert(tFlag >= flag, s"doc $id unflagged: bloom=$tFlag exact=$flag")
    }
    assert(tiny.keySet === exact.keySet)
  }

  test("connected components: min label over chains, separate components stay apart") {
    // chain 1-2-3-4 (diameter 3, needs >1 propagation round) + pair 10-11
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("a", "b")
    val got = Dedup.connectedComponents(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("connected components: reliable-checkpoint mode yields identical labels") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("a", "b")
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L)
    val dir = java.nio.file.Files.createTempDirectory("graft_cc_ckpt").toString
    val got = Dedup.connectedComponents(pairs, reliableCheckpointDir = Some(dir))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got === want)
    // rounds really checkpointed through the fault-tolerant dir, not
    // executor-local blocks
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .filter(java.nio.file.Files.isRegularFile(_)).count()
    assert(files > 0, s"no checkpoint files written under $dir")
  }

  test("capBlocks keeps the first cap rows per block by id and bounds pair fan-out") {
    // hot block of 40 + small block of 10 under a cap of 10
    val df = (1L to 50L).map(i => (if (i <= 40L) "hot" else "cold", i))
      .toDF("source", "doc_id")
    val capped = Dedup.capBlocks(df, "source", "doc_id", 10, logDropped = true)
    val byBlock = capped.groupBy("source")
      .agg(count(lit(1)).as("n"), min("doc_id").as("lo"), max("doc_id").as("hi"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    // hot truncates to its 10 smallest ids; cold (under cap) is untouched
    assert(byBlock("hot") === ((10L, 1L, 10L)))
    assert(byBlock("cold") === ((10L, 41L, 50L)))
    // downstream pair volume is now bounded at cap*(cap-1)/2 per block
    val a = capped.select(col("source"), col("doc_id").as("a"))
    val b = capped.select(col("source"), col("doc_id").as("b"))
    val pairsPerBlock = a.join(b, "source").filter(col("a") < col("b"))
      .groupBy("source").count().collect().map(_.getLong(1))
    assert(pairsPerBlock.forall(_ <= 45L), pairsPerBlock.mkString(","))
  }

  test("capBlocksDistinct equals capBlocks on unique (block, id) inputs") {
    // r21: the distinct-shape call sites cut through the mergeable
    // bounded-heap aggregate instead of the two-phase salted windows —
    // the min-id selection must be byte-identical
    val rnd = new scala.util.Random(42)
    val df = (1L to 400L).map(i => (s"b${rnd.nextInt(7)}", i))
      .toDF("source", "doc_id")
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.select("source", "doc_id").collect()
        .map(_.toSeq).sortBy(_.toString).toSeq
    assert(rows(Dedup.capBlocksDistinct(df, "source", "doc_id", 10))
      === rows(Dedup.capBlocks(df, "source", "doc_id", 10)))
    // cap larger than every block: identity either way
    assert(rows(Dedup.capBlocksDistinct(df, "source", "doc_id", 500))
      === rows(df))
  }

  test("connected components converges on a long chain and rejects exhausted budgets") {
    val chain = (1L to 40L).sliding(2).map(s => (s.head, s.last)).toSeq.toDF("a", "b")
    val got = Dedup.connectedComponents(chain)
      .agg(countDistinct(col("comp")).as("n"), min(col("comp")).as("m"))
      .head()
    assert(got.getLong(0) === 1L && got.getLong(1) === 1L)
    intercept[IllegalArgumentException](
      Dedup.connectedComponents(chain, maxIter = 2))
  }

  test("connected components matches a union-find reference on seeded random graphs") {
    val rnd = new scala.util.Random(7L)
    for (trial <- 1 to 3) {
      val nNodes = 120 + trial * 40
      val edges = Seq.fill(nNodes)(
        (rnd.nextInt(nNodes).toLong, rnd.nextInt(nNodes).toLong))
        .filter { case (a, b) => a != b }
      // driver-side union-find with path compression
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) => parent(find(a)) = find(b) }
      val want = parent.keys.map(n => n -> find(n)).toSeq
        .groupBy(_._2).values
        // canonical id = min node in the component, as the operator defines
        .flatMap { members => val m = members.map(_._1).min; members.map(_._1 -> m) }
        .toMap
      val got = Dedup.connectedComponents(edges.toDF("a", "b"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(got === want, s"trial $trial (${edges.size} edges)")
    }
  }

  test("tfidf: rare terms outrank common ones; ties break by term asc") {
    val df = Seq(
      (1L, "rare common common"),
      (2L, "common common common"),
      (3L, "common unique")
    ).toDF("doc_id", "text")
    val got = Corpus.tfidfTopK(df, "doc_id", "text", k = 1)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    // idf(common, df=3) = 0.5/3.5; idf(rare|unique, df=1) = 2.5/1.5
    assert(got === Seq((1L, "rare"), (2L, "common"), (3L, "unique")))
  }

  test("tfidf: salted vocabulary join equals the broadcast join") {
    val df = Seq(
      (1L, "rare common common words"),
      (2L, "common common common other"),
      (3L, "common unique words other")
    ).toDF("doc_id", "text")
    val broadcastPath = Corpus.tfidfTopK(df, "doc_id", "text", k = 2).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .toSet
    val saltedPath = Corpus.tfidfTopK(df, "doc_id", "text", k = 2,
      saltedVocabJoin = true, numSalts = 4).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .toSet
    assert(saltedPath === broadcastPath)
  }

  test("profile: discrete percentiles select the exact ranked element") {
    // token counts 1..5 in one source: p50 idx=(50*4)//100=2 -> 3rd asc = 3;
    // p90 idx=(90*4)//100=3 -> 4th asc = 4
    val df = Seq(
      (1L, "a", "en", "s1"), (2L, "a b", "en", "s1"), (3L, "a b c", "de", "s1"),
      (4L, "a b c d", "en", "s1"), (5L, "a b c d e", "en", "s1")
    ).toDF("doc_id", "text", "lang", "source")
    val r = Corpus.profile(df, "source", "text", "lang", "doc_id").head()
    assert(r.getAs[Long]("n_docs") === 5L)
    assert(r.getAs[Long]("n_tokens") === 15L)
    assert(r.getAs[Long]("n_langs") === 2L)
    assert(r.getAs[Double]("avg_tok") === 3.0)
    assert(r.getAs[Long]("p50_tok") === 3L)
    assert(r.getAs[Long]("p90_tok") === 4L)
  }

  test("incremental dedup: history suppresses, batch keeps min id per new fingerprint") {
    import org.apache.spark.sql.functions.col
    val newDocs = Seq(
      (1L, "seen before"),   // fingerprint in history -> dropped
      (2L, "brand new"),     // unseen, keeper -> kept
      (3L, "brand new"),     // unseen but 2 is keeper -> dropped
      (4L, "also fresh")     // unseen, keeper -> kept
    ).toDF("doc_id", "text")
    val history = Seq((100L, "SEEN   before")) // normalizes to same fingerprint
      .toDF("doc_id", "text")
      .select(TextAnalysis.fingerprintMd5(col("text")).as("fingerprint"))
    val got = Dedup.incrementalExactDedup(newDocs, history, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got === Map(1L -> 0L, 2L -> 1L, 3L -> 0L, 4L -> 1L))
    // invariant: appending this batch's kept fingerprints to history and
    // re-running the SAME batch keeps nothing (idempotent re-ingest)
    val kept = Dedup.incrementalExactDedup(newDocs, history, "doc_id", "text")
      .filter(col("kept") === 1L).select(col("fingerprint"))
    val history2 = history.union(kept)
    val rerun = Dedup.incrementalExactDedup(newDocs, history2, "doc_id", "text")
      .filter(col("kept") === 1L).count()
    assert(rerun === 0L)
  }

  test("incremental dedup over sequential batches: one survivor per fingerprint, earliest batch wins") {
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(31L)
    // 60 docs over 12 distinct texts, split into 3 arrival batches
    val docs = (1L to 60L).map(id => (id, s"text ${rnd.nextInt(12)}"))
    val batches = docs.grouped(20).toSeq
    var history = Seq.empty[(Long, String)] // (keeper id, text) per fingerprint
    var historyDf = Seq.empty[String].toDF("fingerprint")
    batches.foreach { batch =>
      val out = Dedup.incrementalExactDedup(
        batch.toDF("doc_id", "text"), historyDf, "doc_id", "text")
        .filter(col("kept") === 1L)
        .collect().map(r => (r.getLong(0), r.getString(1)))
      // reference expectation: kept = texts unseen in history, min id in batch
      val seen = history.map(_._2).toSet
      val want = batch.groupBy(_._2).collect {
        case (text, rows) if !seen.contains(text) => rows.map(_._1).min
      }.toSet
      assert(out.map(_._1).toSet === want)
      history ++= out.map { case (id, fp) =>
        (id, batch.find(_._1 == id).get._2)
      }
      historyDf = historyDf.union(out.map(_._2).toSeq.toDF("fingerprint"))
    }
    // global invariant: exactly one survivor per distinct text overall
    assert(history.map(_._2).distinct.size === history.size)
    assert(history.map(_._2).toSet === docs.map(_._2).toSet)
    // and each survivor is the min id of the EARLIEST batch containing its text
    history.foreach { case (id, text) =>
      val firstBatch = batches.find(_.exists(_._2 == text)).get
      assert(id === firstBatch.filter(_._2 == text).map(_._1).min,
        s"survivor $id is not the earliest-batch min for '$text'")
    }
  }

  test("connected components: small-graph valve equals the distributed path") {
    val rnd = new scala.util.Random(11L)
    val edges = Seq.fill(300)((rnd.nextInt(200).toLong, rnd.nextInt(200).toLong))
      .filter { case (a, b) => a != b }
    val df = edges.toDF("a", "b")
    val distributed = Dedup.connectedComponents(df)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val valve = Dedup.connectedComponents(df, smallGraphThreshold = 100000L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(valve === distributed)
    // a threshold below the edge count falls through to the distributed path
    val fallThrough = Dedup.connectedComponents(df, smallGraphThreshold = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(fallThrough === distributed)
  }

  test("profileApprox matches exact profile within sketch error on the fixture") {
    val d = graft.Tables.load(spark, sf0001, "documents")
    val exact = Corpus.profile(d, "source", "text", "lang", "doc_id")
      .collect().map(r => r.getString(0) -> r).toMap
    val approx = Corpus.profileApprox(d, "source", "text", "lang", "doc_id")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(approx.keySet === exact.keySet)
    exact.foreach { case (src, e) =>
      val a = approx(src)
      // exact columns are identical
      assert(a.getAs[Long]("n_docs") === e.getAs[Long]("n_docs"))
      assert(a.getAs[Long]("n_tokens") === e.getAs[Long]("n_tokens"))
      assert(a.getAs[Double]("avg_tok") === e.getAs[Double]("avg_tok"))
      // HLL++: small cardinalities are near-exact; allow ±1
      assert(math.abs(a.getAs[Long]("n_langs") - e.getAs[Long]("n_langs")) <= 1,
        s"$src n_langs ${a.getAs[Long]("n_langs")} vs ${e.getAs[Long]("n_langs")}")
      // t-digest at accuracy 10000 on small groups: within 10% of exact
      Seq("p50_tok", "p90_tok").foreach { c =>
        val (av, ev) = (a.getAs[Long](c).toDouble, e.getAs[Long](c).toDouble)
        assert(math.abs(av - ev) <= math.max(1.0, 0.1 * ev),
          s"$src $c approx $av vs exact $ev")
      }
    }
  }

  test("unigram LM score: frequency stats against the corpus model") {
    // corpus counts: a=2, b=2, c=1; total tokens = 5
    val df = Seq((1L, "a a b"), (2L, "b c")).toDF("doc_id", "text")
    val got = Corpus.unigramLmScore(df, "doc_id", "text")
      .orderBy("doc_id").collect()
    val d1 = got(0)
    assert(d1.getLong(1) === 3L)      // n_tokens
    assert(d1.getLong(2) === 6L)      // sum_freq = 2+2+2
    assert(d1.getLong(3) === 2L)      // min_freq
    assert(d1.getDouble(4) === 2.0)   // mean_freq
    assert(d1.getDouble(5) === 0.0)   // hapax_ratio
    assert(d1.getDouble(6) === 0.4)   // mean_prob = 6 / (3*5)
    val d2 = got(1)
    assert(d2.getLong(1) === 2L)
    assert(d2.getLong(2) === 3L)      // 2+1
    assert(d2.getLong(3) === 1L)      // "c" is rarest
    assert(d2.getDouble(4) === 1.5)
    assert(d2.getDouble(5) === 0.5)   // "c" is a hapax
    assert(d2.getDouble(6) === 0.3)   // 3 / (2*5)
  }

  test("sampleToQuotas honors per-source quotas, md5 order, and over-quota sources") {
    import org.apache.spark.sql.functions.col
    val docs = (1L to 30L).map(id => (id, if (id <= 20) "big" else "small"))
      .toDF("doc_id", "source")
    val quotas = Seq(("big", 4L), ("small", 100L)).toDF("source", "quota")
    val got = Corpus.sampleToQuotas(docs, "source", "doc_id", quotas)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val bySource = got.groupBy(_._2)
    assert(bySource("big").length === 4)      // quota enforced
    assert(bySource("small").length === 10)   // quota above size: whole source
    // selection = first-by-md5(id) — verify against a driver recompute
    def md5(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val wantBig = (1L to 20L).sortBy(id => (md5(id.toString), id)).take(4).toSet
    assert(bySource("big").map(_._1).toSet === wantBig)
    // rank is the within-source mix order, 1-based and dense
    assert(bySource("big").map(_._3).sorted.toSeq === Seq(1L, 2L, 3L, 4L))
  }

  test("hash split is deterministic, total, and roughly proportioned") {
    val df = (0L until 2000L).toDF("doc_id")
    val a = Corpus.hashSplit(df, "doc_id")
    val counts = a.groupBy("split").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(counts.values.sum === 2000L)
    // 75 / 12.5 / 12.5 within generous tolerance
    assert(counts("train") > 1350 && counts("train") < 1650, counts.toString)
    assert(counts("val") > 150 && counts("val") < 350, counts.toString)
    assert(counts("test") > 150 && counts("test") < 350, counts.toString)
    // rerun identical (no RNG state)
    val b = Corpus.hashSplit(df, "doc_id")
    assert(a.exceptAll(b).count() === 0 && b.exceptAll(a).count() === 0)
  }

  test("bigram coverage: top-K membership ratio with deterministic ties, short docs omitted") {
    val docs = Seq(
      (1L, "the cat sat"),        // bigrams: "the cat", "cat sat"
      (2L, "the cat ran"),        // "the cat", "cat ran"
      (3L, "the cat sat down"),   // "the cat", "cat sat", "sat down"
      (4L, "dog"),                // 1 token: no bigrams → omitted
      (5L, "zz qq")               // "zz qq" (count 1)
    ).toDF("doc_id", "text")
    // corpus counts: "the cat"=3, "cat sat"=2, rest 1 → topK=2 is exactly those two
    val got = Corpus.bigramCoverage(docs, "doc_id", "text", topK = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(!got.contains(4L))
    assert(got(1L) === ((2L, 2L, 1.0)))
    assert(got(2L) === ((2L, 1L, 0.5)))
    assert(got(3L) === ((3L, 2L, 0.666667)))
    assert(got(5L) === ((1L, 0L, 0.0)))
    // tie at the K boundary resolves bigram-ASC: with topK=3 the extra
    // slot among the three count-1 bigrams goes to "cat ran" (lexic. min)
    val g3 = Corpus.bigramCoverage(docs, "doc_id", "text", topK = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(g3(2L) === 2L && g3(5L) === 0L)
  }

  test("PMI collocations: hand-computed scores, minCount filter, marginals") {
    // tokens: a,b,a,b + a,b → c_a = c_b = 3, N_uni = 6
    // bigrams: "a b","b a","a b" + "a b" → c_ab = 3, c_ba = 1, N_bg = 4
    // PMI(a,b) = ln(3·6·6 / (4·3·3)) = ln(3); PMI(b,a) = ln(1) = 0
    val docs = Seq((1L, "a b a b"), (2L, "a b")).toDF("doc_id", "text")
    val all = Corpus.pmiCollocations(docs, "text", minCount = 1)
      .orderBy("x", "y").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5))).toSeq
    assert(all === Seq(
      ("a", "b", 3L, 3L, 3L, 1.098612),
      ("b", "a", 1L, 3L, 3L, 0.0)))
    // minCount prunes the singleton pair
    val pruned = Corpus.pmiCollocations(docs, "text", minCount = 2)
      .select("x", "y").collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(pruned === Seq(("a", "b")))
  }

  test("skipgramPpmi equals naive position-pair enumeration on seeded docs") {
    val rnd = new scala.util.Random(11)
    val vocab = Vector("a", "b", "c", "d", "e")
    val texts = (0 until 12).map(i =>
      (i.toLong, Seq.fill(3 + rnd.nextInt(15))(vocab(rnd.nextInt(5))).mkString(" ")))
    val df = texts.toDF("doc_id", "text")
    for (window <- Seq(1, 3)) {
      // naive reference: every position pair at distance 1..window
      val pairs = texts.flatMap { case (_, t) =>
        val toks = t.split(" ")
        for {
          i <- toks.indices; j <- 1 to window; if i + j < toks.length
        } yield (toks(i), toks(i + j))
      }
      val pc = pairs.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val nPairs = pairs.size.toLong
      val unis = texts.flatMap(_._2.split(" "))
      val uc = unis.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val nUni = unis.size.toLong
      val want = pc.collect { case ((x, y), cxy) if cxy >= 2L =>
        (x, y) -> ((cxy, math.floor(math.max(0.0,
          math.log(cxy.toDouble * nUni * nUni /
            (nPairs.toDouble * uc(x) * uc(y)))) * 1e6 + 0.5) / 1e6))
      }.toMap
      val got = Corpus.skipgramPpmi(df, "text", window, minCount = 2)
        .collect().map(r => (r.getString(0), r.getString(1)) ->
          ((r.getLong(2), r.getDouble(3)))).toMap
      assert(got === want, s"window $window")
      assert(got.nonEmpty)
    }
  }

  test("token entropy: hand-computed contributions and ordered running sum") {
    def pr6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    val docs = Seq(("s1", "a a b c")).toDF("source", "text")
    val got = Corpus.tokenEntropy(docs, "source", "text")
      .orderBy("tok").collect()
      .map(r => (r.getString(1), r.getLong(2), r.getDouble(3), r.getDouble(4))).toSeq
    val ca = -(0.5 * math.log(0.5))
    val cb = -(0.25 * math.log(0.25))
    assert(got === Seq(
      ("a", 2L, pr6(ca), pr6(ca)),
      ("b", 1L, pr6(cb), pr6(ca + cb)),
      ("c", 1L, pr6(cb), pr6(ca + cb + cb))))
    // uniform distribution maximizes entropy at ln(vocab)
    val uni = Seq(("u", "x y z w")).toDF("source", "text")
    val h = Corpus.tokenEntropy(uni, "source", "text")
      .orderBy(col("tok").desc).select("entropy_cum").head().getDouble(0)
    assert(h === pr6(math.log(4.0)))
  }

  test("token budget sample: strict cumulative cut in md5 order") {
    // md5("1") < md5("2") < md5("3") (c4ca… < c81e…? no — 4 < 8, so yes)
    // totals: 1 + 2 + 3 = 6 tokens, budget = 3 → docs 1 (cum 1) and
    // 2 (cum 3) kept, doc 3 (cum 6) cut
    val docs = Seq(
      (1L, "s", "a"), (2L, "s", "b c"), (3L, "s", "d e f")
    ).toDF("doc_id", "source", "text")
    val got = Corpus.tokenBudgetSample(docs, "source", "doc_id", "text")
      .orderBy("cum_tok").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(got === Seq((1L, 1L, 1L, 3L), (2L, 2L, 3L, 3L)))
    // a first doc that alone overshoots the budget empties its source
    val fat = Seq((1L, "t", "a b c d e f g h")).toDF("doc_id", "source", "text")
    assert(Corpus.tokenBudgetSample(fat, "source", "doc_id", "text").count() === 0)
  }

  test("inverted index: df/cf multiplicity, sorted capped postings") {
    import org.apache.spark.sql.functions.col
    val docs = Seq(
      (5L, "a b a"), (1L, "a c"), (3L, "a"), (9L, "b b")
    ).toDF("doc_id", "text")
    val got = Corpus.invertedIndex(docs, "doc_id", "text", postingCap = 2)
      .orderBy("term").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getSeq[Long](3)))
    // a: docs {1,3,5}, cf 4 (doc 5 has it twice), postings capped to 2 lowest
    assert(got.toSeq === Seq(
      ("a", 3L, 4L, Seq(1L, 3L)),
      ("b", 2L, 3L, Seq(5L, 9L)),
      ("c", 1L, 1L, Seq(1L))))
    // cap >= df keeps everything
    val full = Corpus.invertedIndex(docs, "doc_id", "text", postingCap = 10)
      .filter(col("term") === "a").collect().head.getSeq[Long](3)
    assert(full === Seq(1L, 3L, 5L))
  }

  test("bm25: saturation plateaus tf, length norm discounts long docs") {
    import org.apache.spark.sql.functions.col
    // doc 1: "x" once in 2 tokens; doc 2: "x" 5 times in 10 tokens.
    // Plain tfidf would score doc 2's x five times doc 1's; BM25's
    // saturation + length norm must compress that gap.
    val docs = Seq(
      (1L, "x y"),
      (2L, "x x x x x z z z z z"),
      (3L, "y z")).toDF("doc_id", "text")
    val out = Corpus.bm25TopK(docs, "doc_id", "text", k = 10)
      .collect().map(r => (r.getLong(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(5)))).toMap
    // hand-computed: N=3, total_dl=14, avgdl=14/3
    def score(tf: Long, dl: Long, df: Long): Double = {
      val idf = (3.0 - df + 0.5) / (df + 0.5)
      val norm = 0.25 + 0.75 * (dl / (14.0 / 3.0))
      val sat = tf * 2.25 / (tf + 1.25 * norm)
      math.floor(idf * sat * 1e6 + 0.5) / 1e6
    }
    assert(out((1L, "x")) === ((1L, 2L, score(1, 2, 2))))
    assert(out((2L, "x")) === ((5L, 10L, score(5, 10, 2))))
    assert(out((2L, "z")) === ((5L, 10L, score(5, 10, 2))))
    // saturation: 5x the tf at 5x the length buys < 2x the score
    assert(out((2L, "x"))._3 < 2 * out((1L, "x"))._3)
    // identical score for x and z in doc 2 -> tie broken by term asc
    val ranked = Corpus.bm25TopK(docs, "doc_id", "text", k = 10)
      .filter(col("doc_id") === 2L).orderBy(col("rank"))
      .collect().map(_.getString(1)).toSeq
    assert(ranked === Seq("x", "z"))
  }

  test("ppsSample: exactly n pointer hits per stratum; heavy rows always taken") {
    import org.apache.spark.sql.functions.{col, length}
    // one whale doc (wt 80) among minnows (wt 2 each): at n=4 the whale
    // spans >= 3 pointers (80/100 of the mass) and MUST be selected
    val docsDf = (Seq((1L, "s", "w " * 80)) ++
      (2L to 11L).map(i => (i, "s", "a b")))
      .toDF("doc_id", "source", "text")
      .withColumn("text", org.apache.spark.sql.functions.trim(col("text")))
    val out = Corpus.ppsSample(docsDf, "source", "doc_id",
      graft.ops.TextAnalysis.tokenCount(col("text")), n = 4)
      .collect().map(r => r.getLong(1) -> r.getLong(5)).toMap
    assert(out.values.sum === 4L, s"pointer hits must total n: $out")
    assert(out.contains(1L) && out(1L) >= 3L, s"whale must be hit >= 3 times: $out")
    // n larger than rows: every positive-weight row selected, hits still sum to n
    val all = Corpus.ppsSample(docsDf, "source", "doc_id",
      graft.ops.TextAnalysis.tokenCount(col("text")), n = 100)
      .collect().map(r => r.getLong(1) -> r.getLong(5)).toMap
    assert(all.values.sum === 100L)
    assert(all.keySet === (1L to 11L).toSet)
  }

  test("feature hash: signed buckets cancel, multiplicity counted, dim bound") {
    import org.apache.spark.sql.functions.col
    val toks = Seq((1L, "x x y"), (2L, "x")).toDF("doc_id", "text")
    val out = graft.SparkEntry.queries("q97_feature_hash")(spark, sf0001)
    val rows = out.limit(2000).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getLong(1) >= 0 && r.getLong(1) < 1024))
    // |weight| can never exceed the bucket's term count
    assert(rows.forall(r => math.abs(r.getLong(2)) <= r.getLong(3)))
    // same token twice -> same bucket, weight magnitude 2
    val g = toks.select(col("doc_id"),
      org.apache.spark.sql.functions.explode(
        TextAnalysis.tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), TextAnalysis.featureBucket(col("term"), 1024).as("b"))
      .agg(org.apache.spark.sql.functions.sum(
        TextAnalysis.featureSign(col("term"))).as("w"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val xb = g.keys.filter(_._1 == 2L).head._2
    assert(math.abs(g((1L, xb))) === 2L)
  }

  test("cmsHeavyHitters: exact counts when collision-free, overcount 0") {
    val df = Seq("aa bb aa", "cc aa bb").toDF("text")
    val got = Corpus.cmsHeavyHitters(df, "text", depth = 2, width = 512, k = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).sortBy(_._1)
    assert(got.toSeq === Seq(
      ("aa", 3L, 3L, 0L), ("bb", 2L, 2L, 0L), ("cc", 1L, 1L, 0L)))
  }

  test("cmsHeavyHitters: forced collisions stay one-sided (est >= true), min over rows") {
    // width=2: every token collides with roughly half the vocabulary;
    // est must equal the sum of colliding true counts per row, min'd
    // across rows — and never undercount
    val df = Seq("a b c d e a b c", "f g h a a b").toDF("text")
    val got = Corpus.cmsHeavyHitters(df, "text", depth = 3, width = 2, k = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.nonEmpty)
    got.foreach { case (tok, t, est) => assert(est >= t, tok) }
    // replicate the bucket assignment to check one estimate exactly
    def bucket(r: Int, tok: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"$r:$tok".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(4), 16) % 2
    }
    val counts = Map("a" -> 4L, "b" -> 3L, "c" -> 2L, "d" -> 1L,
      "e" -> 1L, "f" -> 1L, "g" -> 1L, "h" -> 1L)
    val expect = counts.map { case (tok, _) =>
      tok -> (0 until 3).map { r =>
        counts.collect { case (t2, c2) if bucket(r, t2) == bucket(r, tok) => c2 }.sum
      }.min
    }
    got.foreach { case (tok, _, est) => assert(est === expect(tok), tok) }
  }

  test("temperatureQuotas: hand case — sqrt weights, floor pointers, exact budget") {
    // masses 16 / 64 -> weights 4 / 8, W = 12, N = 12:
    // a: floor(4*12/12)=4; b: floor(12*12/12)-4 = 8
    val docs = Seq(
      ("a", (1 to 16).map(_ => "w").mkString(" ")),
      ("b", (1 to 64).map(_ => "w").mkString(" "))).toDF("source", "text")
    val got = Corpus.temperatureQuotas(docs, "source", "text", totalN = 12)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getLong(3))).sortBy(_._1)
    assert(got.toSeq === Seq(("a", 16L, 4.0, 4L), ("b", 64L, 8.0, 8L)))
  }

  test("temperatureQuotas: quotas are non-negative and sum EXACTLY to the budget") {
    val rnd = new scala.util.Random(3)
    val docs = (1 to 200).map(i =>
      (s"s${i % 17}", (1 to (1 + rnd.nextInt(50))).map(_ => "t").mkString(" ")))
      .toDF("source", "text")
    for (n <- Seq(7, 100, 999)) {
      val q = Corpus.temperatureQuotas(docs, "source", "text", totalN = n)
        .collect().map(_.getLong(3))
      assert(q.forall(_ >= 0L))
      assert(q.sum === n.toLong, s"budget $n")
    }
  }

  test("source overlap: hand-computed pairwise vocabulary Jaccard") {
    // s1 = {a,b}, s2 = {b,c}, s3 = {a,b,c}
    val docs = Seq(
      ("s1", "a b a"), ("s2", "b c"), ("s3", "a b"), ("s3", "c c")
    ).toDF("source", "text")
    val got = Corpus.sourceOverlap(docs, "source", "text")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    assert(got === Map(
      ("s1", "s2") -> ((1L, 2L, 2L, 1.0 / 3.0)),   // {b} over {a,b,c}
      ("s1", "s3") -> ((2L, 2L, 3L, 2.0 / 3.0)),   // {a,b} over {a,b,c}
      ("s2", "s3") -> ((2L, 2L, 3L, 2.0 / 3.0))))  // {b,c} over {a,b,c}
  }

  test("bpeMerges: hand-computed merges, boundary-safe application, weighted counts") {
    // vocab: aaab(x2), ab(x1)
    // round 1 pairs: (a,a) = 2*2 = 4, (a,b) = 2+1 = 3 -> merge (a,a)
    //   aaab -> [aa, a, b] (single-pass replace: the second ·a·a·
    //   occurrence shares the middle sentinel, so exactly one merge —
    //   same as greedy left-to-right BPE here)
    // round 2 pairs: (aa,a) = 2, (a,b) = 2+1 = 3 -> merge (a,b)
    //   aaab -> [aa, ab], ab -> [ab]
    // tokens: aa = 2, ab = 2+1 = 3
    val docs = Seq("aaab aaab ab").toDF("text")
    val got = Corpus.bpeMerges(docs, "text", rounds = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2),
        Option(r.getString(3)), r.getLong(4))).toSet
    assert(got === Set(
      ("merge", 1L, "a", Some("a"), 4L),
      ("merge", 2L, "a", Some("b"), 3L),
      ("token", 3L, "aa", None, 2L),
      ("token", 3L, "ab", None, 3L)))
    // boundary safety: merged symbol interiors must not re-match. With
    // merges (a,b) then (b,c) on 'abc': after (a,b) the word is
    // [ab, c]; pattern ·b·c· must NOT fire inside 'ab·c'
    val docs2 = Seq("ab ab abc bc").toDF("text")
    // round 1: (a,b) = 3, (b,c) = 2 -> merge (a,b); abc -> [ab, c]
    // round 2: (ab,c) = 1, (b,c) = 1 -> tie, lex: (ab,c) < (b,c) ->
    //   merge (ab, c); tokens: ab = 2 (the 'ab' word twice; abc's
    //   prefix became part of token abc), abc = 1, b = 1, c = 1
    val got2 = Corpus.bpeMerges(docs2, "text", rounds = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2),
        Option(r.getString(3)), r.getLong(4))).toSet
    assert(got2 === Set(
      ("merge", 1L, "a", Some("b"), 3L),
      ("merge", 2L, "ab", Some("c"), 1L),
      ("token", 3L, "ab", None, 2L),
      ("token", 3L, "abc", None, 1L),
      ("token", 3L, "b", None, 1L),
      ("token", 3L, "c", None, 1L)))
  }

  test("hamiltonQuotas: exact total, hand-computed largest-remainder splits") {
    // counts 5/3/2 over N=7: shares 3.5/2.1/1.4 -> floors 3/2/1 (sum 6),
    // remainders 5/1/4 -> one leftover slot goes to 'a' (rem 5)
    val df = (Seq.fill(5)("a") ++ Seq.fill(3)("b") ++ Seq.fill(2)("c"))
      .toDF("g")
    val got = Corpus.hamiltonQuotas(df, "g", 7L)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got === Map(
      "a" -> ((5L, 3L, 5L, 4L)),
      "b" -> ((3L, 2L, 1L, 2L)),
      "c" -> ((2L, 1L, 4L, 1L))))
    assert(got.values.map(_._4).sum === 7L)
    // remainder tie: counts 1/1 over N=3 -> floors 1/1, rems 1/1,
    // leftover to the lexicographically smaller group
    val tie = Seq("x", "y").toDF("g")
    val g2 = Corpus.hamiltonQuotas(tie, "g", 3L)
      .collect().map(r => r.getString(0) -> r.getLong(4)).toMap
    assert(g2 === Map("x" -> 2L, "y" -> 1L))
  }

  test("bpeEncodeStats: per-doc tokenization against the learned vocabulary") {
    // vocab from both docs: aaab(x2), ab(x1) -> merges (a,a) then (a,b)
    // (the q124 fixture); final: aaab = [aa, ab], ab = [ab]
    val docs = Seq((1L, "aaab ab"), (2L, "aaab")).toDF("doc_id", "text")
    val got = Corpus.bpeEncodeStats(docs, "doc_id", "text", rounds = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got === Map(
      1L -> ((2L, 3L, 6L)),   // aaab(2 toks) + ab(1 tok), 6 chars
      2L -> ((1L, 2L, 4L))))
    // corpus token mass agrees with the q124 token-frequency table
    val tokenMass = Corpus.bpeMerges(docs, "text", rounds = 2)
      .filter(col("kind") === "token").agg(sum("n")).head().getLong(0)
    assert(tokenMass === 3L + 2L)
  }

  test("compactionPlan: bins reach target bytes (except per-source tails) and ignore input order") {
    val rnd = new scala.util.Random(17)
    val docs = (1L to 60L).map { id =>
      (if (id % 2 == 0) "a" else "b", id, "x" * (50 + rnd.nextInt(400)))
    }.toDF("source", "doc_id", "text")
    val plan = Corpus.compactionPlan(docs, "source", "doc_id", "text",
        targetBytes = 1000L)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    // start-offset binning invariant: a non-tail bin spans from its
    // first doc's start (< maxSz into the bin) to a boundary-crossing
    // end, so it holds more than target − maxSz bytes
    val maxSz = docs.agg(max(length(col("text")).cast("long"))).head().getLong(0)
    Seq("a", "b").foreach { s =>
      val bins = plan.filter(_._1._1 == s).toSeq.sortBy(_._1._2)
      bins.dropRight(1).foreach { case (k, (_, bytes)) =>
        assert(bytes > 1000L - maxSz, s"undersized non-tail bin $k: $bytes") }
      // bins are contiguous from 0 (no doc exceeds the target size)
      assert(bins.map(_._1._2) === bins.indices.map(_.toLong))
    }
    // total bytes conserved
    assert(plan.values.map(_._2).sum ===
      docs.agg(sum(length(col("text")))).head().getLong(0))
    // determinism: a shuffled input yields the identical manifest
    val shuffled = Corpus.compactionPlan(docs.orderBy(rand(42)), "source",
        "doc_id", "text", targetBytes = 1000L)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    assert(shuffled === plan)
  }

  test("balancedShards == naive row_number dealing; shard sizes differ by at most one") {
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(11)
    // 37 docs, heavy-tailed token counts WITH duplicates (tie coverage)
    val docs = (1L to 37L).map { id =>
      val n = if (id % 7 == 0) 200 + rnd.nextInt(3) else 1 + rnd.nextInt(20)
      (id, (1 to n).map(i => s"t$i").mkString(" "))
    }.toDF("doc_id", "text")
    val got = Corpus.balancedShards(docs, "doc_id", "text", nShards = 5)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // naive reference: global row_number over (tokens desc, id asc)
    val naive = docs
      .select(col("doc_id"),
        graft.ops.TextAnalysis.tokenCount(col("text")).cast("long").as("n"))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("n").desc, col("doc_id").asc)).cast("long"))
      .groupBy(((col("rk") - 1L) % 5).as("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("tok_sum"),
        min(col("rk")).as("mn"), max(col("rk")).as("mx"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got === naive)
    val counts = got.values.map(_._1)
    assert(counts.max - counts.min <= 1L, s"unbalanced doc counts: $got")
    assert(got.keySet === (0L until 5L).toSet)
  }

  test("rakeKeywords: hand-checked deg/freq scores, segmentation at stopwords, tie order") {
    def pr6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    val stops = graft.ops.TextAnalysis.StopwordsEn
    val df = Seq(
      ("d1", "the quick brown fox and lazy dog"),
      ("d2", "quick brown fox is quick")).toDF("doc_id", "text")
    val got = Corpus.rakeKeywords(df, "doc_id", "text", stops, k = 10)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getString(2), r.getLong(3), r.getDouble(4)))).toMap
    // word scores: quick 7/3 (freq 3; deg 3+3+1), brown 3, fox 3,
    // lazy 2, dog 2
    val qbf = pr6(7.0 / 3.0 + 3.0 + 3.0)
    assert(got(("d1", 1L)) === (("quick brown fox", 3L, qbf)))
    assert(got(("d2", 0L)) === (("quick brown fox", 3L, qbf)))
    assert(got(("d1", 2L)) === (("lazy dog", 2L, 4.0)))
    assert(got(("d2", 1L)) === (("quick", 1L, pr6(7.0 / 3.0))))
    assert(got.size === 4)
  }

  test("dsirLogRatios: target-like docs score above target-unlike; n_feats = bigram count") {
    // target = lang 'en'; d_like repeats en bigrams, d_unlike is disjoint
    val df = Seq(
      (1L, "en", "alpha beta gamma alpha beta"),
      (2L, "en", "alpha beta gamma delta"),
      (3L, "xx", "zeta eta theta iota kappa"),
      (4L, "xx", "alpha beta gamma alpha"),   // target-like raw doc
      (5L, "xx", "omega psi chi phi")         // target-unlike raw doc
    ).toDF("doc_id", "lang", "text")
    val got = Corpus.dsirLogRatios(df, "doc_id", "text",
        col("lang") === "en", buckets = 4096)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    assert(got(4L)._1 === 3L && got(5L)._1 === 3L)
    assert(got(4L)._2 > got(5L)._2,
      s"target-like must outscore target-unlike: $got")
    // docs too short for a bigram are absent
    assert(got.contains(1L) && got.contains(2L) && got.contains(3L))
  }
}
