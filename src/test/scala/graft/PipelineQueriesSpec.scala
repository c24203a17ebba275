package graft

/** Invariant checks for the pipeline operator suite on the sf0.001 testdata
  * (the DuckDB hash-compare is the driver's job; these pin the structural
  * properties a hash can't express, and cover the rows-only queries). */
class PipelineQueriesSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"
  private def run(name: String) = SparkEntry.queries(name)(spark, sf)

  test("dedup pair queries emit ordered, deduplicated pairs") {
    for (q <- Seq("p_dedup_ngram_jaccard", "p_dedup_minhash_lsh", "p_dedup_embed",
      "p_dedup_embed_lsh", "p_dedup_simhash")) {
      val rows = run(q).collect()
      val pairs = rows.map(r => (r.getLong(0), r.getLong(1)))
      assert(pairs.forall { case (a, b) => a < b }, s"$q: unordered pair")
      assert(pairs.distinct.length === pairs.length, s"$q: duplicate pair")
    }
  }

  test("dup clustering equals a Scala union-find model over the pair graph") {
    val pairs = run("p_dedup_minhash_lsh").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val docsInPairs = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = docsInPairs.groupBy(find)
      .map { case (rep, ms) => (rep, ms.size.toLong, ms.max) }
      .toSeq.sortBy(_._1)
    val clusters = run("p_dedup_cluster").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(clusters === expected)
    assert(clusters.forall(_._2 >= 2)) // components, not singletons
  }

  test("dup clustering: driver union-find and distributed propagation paths " +
    "are row-identical (gate forced both ways)") {
    import spark.implicits._
    // A graph with a chain (transitivity across several hops), a triangle,
    // an isolated edge, and ids chosen so min-labels cross join directions.
    val pairs = Seq(
      (10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L), // chain, rep 10
      (5L, 7L), (5L, 9L), (7L, 9L), // triangle, rep 5
      (100L, 3L), // reversed min: rep 3
      (50L, 51L)).toDF("da", "db")
    val viaDriver = queries.DedupCluster.clusters(spark, pairs, Long.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val viaDistributed = queries.DedupCluster.clusters(spark, pairs, -1L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(viaDriver === viaDistributed)
    assert(viaDriver === Seq((3L, 2L, 100L), (5L, 3L, 9L), (10L, 5L, 14L),
      (50L, 2L, 51L)))
  }

  test("tf-idf top terms: a term unique to one source outranks corpus-wide " +
    "terms there, ranks are dense 1..5, and the score arithmetic is exact") {
    import spark.implicits._
    val dir = tmpDir("tfidf")
    // 'zebra' appears ONLY in web docs (df=2), 'the' in every doc (df=6).
    Seq(
      (1L, "the zebra runs zebra fast zebra", "en", "web", 30L),
      (2L, "the zebra sleeps now here too", "en", "web", 29L),
      (3L, "the cat sits on the mat", "en", "books", 23L),
      (4L, "the dog sits on the log", "en", "books", 23L),
      (5L, "the sun is hot and bright", "en", "books", 25L),
      (6L, "the moon is cold and dim", "en", "books", 24L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("p_text_tfidf")(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    // Dense ranks per source, capped at 5.
    rows.groupBy(_._1).foreach { case (src, rs) =>
      assert(rs.map(_._6).sorted.toSeq === (1L to rs.length), s"ranks in $src")
      assert(rs.length <= 5)
    }
    // web's #1 is the source-exclusive term, scored exactly tf*1e6*N/df.
    val webTop = rows.filter(_._1 == "web").minBy(_._6)
    assert(webTop._2 === "zebra" && webTop._3 === 4L && webTop._4 === 2L)
    assert(webTop._5 === 4L * 1000000L * 6L / 2L)
    // 'the' (df = all docs) scores tf*1e6 exactly — no idf lift.
    rows.filter(_._2 == "the").foreach(r => assert(r._5 === r._3 * 1000000L))
  }

  test("mix weights: shares sum to ~1e6 ppm and weight inverts the share " +
    "against the uniform target exactly") {
    import spark.implicits._
    val dir = tmpDir("mix")
    // 3 sources with 1:2:5 token counts (8 tokens per doc).
    val mk = (n: Int, src: String) => (1 to n).map(i =>
      (s"$src$i".hashCode.toLong, "a b c d e f g h", "en", src, 15L))
    (mk(1, "web") ++ mk(2, "books") ++ mk(5, "code"))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("p_mix_weights")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(rows.map(_._1) === Seq("books", "code", "web"))
    assert(rows.map(_._3) === Seq(16L, 40L, 8L)) // tokens = 8/doc
    // Integer-division shares: floor(n/64 * 1e6) each, sum within n_sources
    // ulps of 1e6.
    val shares = rows.map(_._4)
    assert(shares === Seq(16L * 1000000 / 64, 40L * 1000000 / 64, 8L * 1000000 / 64))
    assert(math.abs(shares.sum - 1000000L) < 3)
    // weight_ppm = uniform target (1/3) over actual share, exact BIGINT div.
    assert(rows.map(_._5) === Seq(64L * 1000000 / (3 * 16), 64L * 1000000 / (3 * 40),
      64L * 1000000 / (3 * 8)))
  }

  test("incremental dedup equals the full pair set restricted to the incoming " +
    "batch, with vs_existing classifying old-corpus vs intra-batch hits") {
    val full = run("p_dedup_minhash_lsh").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val maxId = spark.read.parquet(s"$sf/documents.parquet")
      .agg(org.apache.spark.sql.functions.max("doc_id")).head.getLong(0)
    val split = maxId * 4 / 5
    val expect = full.filter(_._2 > split)
      .map { case (a, b, c, u) => (a, b, c, u, a <= split) }
      .sortBy(t => (t._1, t._2)).toSeq
    val got = run("p_dedup_incremental").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
      .toSeq
    assert(got === expect)
    assert(got.nonEmpty, "sf0.001 should contain at least one incoming-batch duplicate")
  }

  test("span dedup equals a Scala 8-gram model: per-doc span counts, " +
    "cross-doc duplicated spans, and ratio") {
    val texts = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val docSpans = texts.map { case (id, t) =>
      id -> t.split(" ").sliding(8).filter(_.length == 8).map(_.mkString(" ")).toSeq
    }.filter(_._2.nonEmpty)
    val docsOfSpan = docSpans
      .flatMap { case (id, ss) => ss.distinct.map(_ -> id) }
      .groupBy(_._1).map { case (sp, g) => sp -> g.length }
    val expect = docSpans.map { case (id, ss) =>
      val nDup = ss.count(sp => docsOfSpan(sp) > 1).toLong
      (id, ss.length.toLong, nDup, nDup * 1000000 / ss.length)
    }.sortBy(_._1).toSeq
    val got = run("p_span_dedup").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got === expect)
  }

  test("source duplication matrix equals a Scala model over the verified " +
    "pairs and stays triangular") {
    val srcOf = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val pairs = run("p_dedup_minhash_lsh").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val expect = pairs
      .map { case (a, b) =>
        val (sa, sb) = (srcOf(a), srcOf(b))
        (if (sa <= sb) sa else sb, if (sa <= sb) sb else sa)
      }
      .groupBy(identity).map { case ((a, b), g) => (a, b, g.length.toLong) }
      .toSeq.sorted
    val got = run("p_dedup_source_matrix").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq.sorted
    assert(got === expect)
    assert(got.map(_._3).sum === pairs.length.toLong)
    assert(got.forall(t => t._1 <= t._2))
  }

  test("set ops query equals Scala set arithmetic over the two vocabularies") {
    val texts = spark.read.parquet(s"$sf/documents.parquet")
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    def vocab(src: String) =
      texts.filter(_._1 == src).flatMap(_._2.split(" ")).toSet
    val (a, b) = (vocab("src0"), vocab("src1"))
    val expect = (a.intersect(b).map(("common", _)) ++ a.diff(b).map(("only_src0", _)))
      .toSeq.sorted
    val got = run("q_set_ops").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq.sorted
    assert(got === expect)
  }

  test("mixture resample: per-doc copies are floor(weight) or floor+1, the " +
    "weight agrees with p_mix_weights, and the decision is deterministic") {
    val weights = run("p_mix_weights").collect()
      .map(r => r.getString(0) -> r.getLong(4)).toMap
    val rows = run("p_mix_resample").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    for ((id, src, w, n) <- rows) {
      assert(w === weights(src), s"doc $id weight mismatch vs p_mix_weights")
      assert(n === w / 1000000 || n === w / 1000000 + 1, s"doc $id repeats $n for w=$w")
    }
    val again = run("p_mix_resample").collect()
      .map(r => (r.getLong(0), r.getLong(3))).sorted.toSeq
    assert(rows.map(r => (r._1, r._4)).sorted.toSeq === again)
  }

  test("pii redaction leaves no digit unmasked and counts every masked run") {
    val rows = run("p_pii_redact").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(rows.nonEmpty)
    val origs = queries.TemporalQueries.events(spark, sf)
      .select("event_id", "props").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    for ((id, red, n) <- rows) {
      assert(!red.exists(_.isDigit), s"event $id: unmasked digit in '$red'")
      assert(n === """\d+""".r.findAllIn(origs(id)).length, s"event $id count")
      assert(red === """\d+""".r.replaceAllIn(origs(id), "<NUM>"), s"event $id mask")
    }
  }

  test("ngram top-k equals a Scala bigram-count model (count desc, bigram asc)") {
    val texts = spark.read.parquet(s"$sf/documents.parquet")
      .select("text").collect().map(_.getString(0))
    val counts = scala.collection.mutable.Map.empty[String, Long]
    for (t <- texts; Array(a, b) <- t.split(" ").sliding(2))
      counts(s"$a $b") = counts.getOrElse(s"$a $b", 0L) + 1
    val expect = counts.toSeq.sortBy { case (bg, n) => (-n, bg) }.take(20)
    val got = run("p_ngram_topk").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got === expect)
  }

  test("source quota keeps at most 10 docs per source, ranks contiguous from 1, " +
    "and the selection is deterministic across runs") {
    val rows = run("p_source_quota").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val bySrc = rows.groupBy(_._1)
    for ((src, grp) <- bySrc) {
      assert(grp.length <= 10, s"$src over quota")
      assert(grp.map(_._3).sorted.toSeq === (1L to grp.length).toSeq, s"$src ranks")
    }
    val again = run("p_source_quota").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.sortBy(r => (r._1, r._3)).toSeq === again.sortBy(r => (r._1, r._3)).toSeq)
  }

  test("embedding dominant-dim histogram equals a Scala argmax model and " +
    "covers every vector exactly once") {
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("label", "embedding").collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1)))
    val expect = vecs
      .map { case (l, e) => (l, e.indexOf(e.max).toLong + 1) } // 1-based, first max
      .groupBy(identity).map { case (k, v) => (k._1, k._2, v.length.toLong) }
      .toSeq.sorted
    val got = run("p_embed_dominant_dim").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    assert(got === expect)
    assert(got.map(_._3).sum === vecs.length.toLong)
  }

  test("events json extraction equals a Scala model over the parsed props") {
    val evs = queries.TemporalQueries.events(spark, sf)
      .select("event_type", "props").collect()
      .map { r =>
        val k = """"k":\s*(-?\d+)""".r.findFirstMatchIn(r.getString(1)).get.group(1).toLong
        (r.getString(0), k)
      }
    val expect = evs.groupBy(_._1).map { case (t, g) =>
      (t, g.length.toLong, g.map(_._2).sum, g.map(_._2).min, g.map(_._2).max)
    }.toSeq.sortBy(_._1)
    val got = run("q_events_json").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSeq.sortBy(_._1)
    assert(got === expect)
  }

  test("pivot counts per bucket sum to the bucket's click+view+purchase total " +
    "and never go null") {
    val rows = run("q_pivot").collect()
    val byType = queries.TemporalQueries.events(spark, sf)
      .select("user_id", "event_type").collect()
      .map(r => (r.getLong(0) % 10, r.getString(1)))
    for (r <- rows; bucket = r.getLong(0)) {
      for ((c, t) <- Seq(("n_click", "click"), ("n_view", "view"), ("n_purchase", "purchase")))
        assert(r.getAs[Long](c) === byType.count(e => e._1 == bucket && e._2 == t),
          s"bucket $bucket $c")
    }
  }

  test("dup clustering driver gate: malformed GRAFT_CLUSTER_DRIVER_MAX falls " +
    "back to the default instead of crashing") {
    import queries.DedupCluster.parseDriverMax
    assert(parseDriverMax(None) === 1000000L)
    assert(parseDriverMax(Some("42")) === 42L)
    assert(parseDriverMax(Some(" 250000 ")) === 250000L)
    for (bad <- Seq("", "banana", "1e6", "0x10", "9999999999999999999999"))
      assert(parseDriverMax(Some(bad)) === 1000000L, s"input: '$bad'")
  }

  test("dup clustering handles a corpus with no duplicate pairs (empty graph)") {
    import spark.implicits._
    val dir = tmpDir("nodup")
    Seq(
      (1L, "alpha beta gamma delta epsilon zeta", "en", "web", 35L),
      (2L, "one two three four five six seven", "en", "web", 33L),
      (3L, "spark catalyst tungsten codegen shuffle exchange", "en", "code", 48L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    assert(SparkEntry.queries("p_dedup_cluster")(spark, dir).count() === 0L)
  }

  test("decontamination counts match a Scala set-intersection model and " +
    "never exceed the doc's shingle total") {
    import org.apache.spark.sql.functions._
    val d = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text", "source").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def grams(t: String): Set[String] =
      t.split(" ").sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
    val evalSh = d.filter(r => Set("src0", "src1")(r._3)).flatMap(r => grams(r._2)).toSet
    val expected = d.filterNot(r => Set("src0", "src1")(r._3))
      .map { case (id, t, _) =>
        val g = grams(t)
        (id, (g & evalSh).size.toLong, g.size.toLong)
      }
      .filter(_._3 > 0).sortBy(_._1).toSeq
    val got = run("p_decontaminate").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === expected)
    assert(got.forall { case (_, nc, tot) => nc <= tot })
  }

  test("repetition ratio is exact integer micro-units and zero iff the doc " +
    "has no duplicate 3-grams") {
    val rows = run("p_text_repetition").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (tot, dist, micro) =>
      assert(dist <= tot)
      val want = if (tot > 0) (tot - dist) * 1000000L / tot else 0L
      assert(micro === want)
      assert((micro == 0L) === (tot == dist))
    }
  }

  test("boilerplate report is the top-50 by (df desc, sh) with support >= 3, " +
    "and repetition runs with no shuffle in the plan") {
    val rows = run("p_text_boilerplate").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(rows.length <= 50)
    assert(rows.forall(_._2 >= 3L))
    // Sorted by the total order the LIMIT depends on.
    assert(rows === rows.sortBy { case (sh, df) => (-df, sh) }.toSeq)
    // p_text_repetition's 100 TB plan: scan-local (single Exchange from the
    // orderBy only — no aggregation/join shuffle).
    val plan = run("p_text_repetition").queryExecution.executedPlan.toString
    assert(!plan.contains("HashAggregate") && !plan.contains("SortMergeJoin"))
  }

  test("stratified split and sequence packing both partition the corpus " +
    "exactly (every doc in one split / one bin)") {
    val nDocs = spark.read.parquet(s"$sf/documents.parquet").count()
    val split = run("p_sample_stratified").collect()
    assert(split.map(_.getLong(2)).sum === nDocs)
    assert(split.map(_.getString(1)).toSet.subsetOf(Set("train", "val", "test")))
    val pack = run("p_pack_sequences").collect()
    assert(pack.map(_.getLong(2)).sum === nDocs)
    // Bins are non-negative and doc ranges within a source never overlap:
    // packing is contiguous in doc_id order.
    pack.groupBy(_.getString(0)).foreach { case (src, rows) =>
      val ordered = rows.sortBy(_.getLong(1))
      assert(ordered.forall(_.getLong(1) >= 0L))
      ordered.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getLong(5) < b.getLong(4), s"$src: overlapping bins")
        case _ => ()
      }
    }
  }

  test("distributed prefix-sum packing ≡ window packing for any partition " +
    "count (sources split across range partitions)") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val d = spark.read.parquet(s"$sf/documents.parquet")
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val viaWindow = d
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("ntok"))
      .withColumn("cum", sum(col("ntok")).over(w))
      .withColumn("bin", expr("(cum - ntok) div 512"))
      .groupBy("source", "bin")
      .agg(count(lit(1)).as("n_docs"), sum(col("ntok")).as("sum_tokens"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      .orderBy("source", "bin")
      .collect().map(_.toSeq).toSeq
    // 1 partition (degenerate), fewer than sources, many more than docs —
    // each exercises different (partition, source) boundary splits.
    for (n <- Seq(1, 3, 16, 64)) {
      val viaScan = graft.queries.SequencePack.packed(d, 512L, nPartitions = n)
        .collect().map(_.toSeq).toSeq
      assert(viaScan === viaWindow, s"nPartitions=$n")
    }
  }

  test("trained IVF centroids (spherical k-means) reach recall@3 at least " +
    "as high as the md5 hash centroids on the same nprobe budget") {
    import org.apache.spark.sql.functions._
    import graft.queries.Ivf
    val embs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    // Brute-force cosine top-3 per probe = ground truth.
    val a = embs.select(col("vec_id").as("qid"), col("embedding").as("ea"))
    val b = embs.select(col("vec_id").as("nid"), col("embedding").as("eb"))
    val dotC = graft.functions.ArrayDotProduct.dot(col("ea"), col("eb"))
    val normA = sqrt(graft.functions.ArrayDotProduct.dot(col("ea"), col("ea")))
    val normB = sqrt(graft.functions.ArrayDotProduct.dot(col("eb"), col("eb")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("cos").desc, col("nid"))
    val truth = a.filter(col("qid") < 20).crossJoin(b)
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"), (dotC / (normA * normB)).as("cos"))
      .withColumn("r", row_number().over(w)).filter(col("r") <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def recall(centroids: Seq[Array[Double]]): Double = {
      import spark.implicits._
      val cdf = centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }
        .toDF("k", "cvec")
      val got = Ivf.search(embs, cdf, col("vec_id") < 20, nprobe = 2, topK = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val overlaps = truth.map { case (q, t) =>
        got.get(q).map(g => (g & t).size.toDouble / t.size).getOrElse(0.0)
      }
      overlaps.sum / overlaps.size
    }
    val hash = graft.queries.PipelineQueries.ivfHashCentroids
    val rHash = recall(hash)
    // Deterministic training: seeded from the hash centroids themselves.
    val rTrained = recall(Ivf.trainKMeans(embs, iters = 5, init = hash))
    info(f"recall@3 hash=$rHash%.3f trained=$rTrained%.3f")
    assert(rTrained >= rHash,
      f"trained centroids lost recall: $rTrained%.3f < $rHash%.3f")
    assert(rTrained > 0.0)
  }

  test("semantic dedup scales with the quantizer K (runtime-parameterized): " +
    "on a 10x corpus K=32 bounds within-cluster pair work strictly below " +
    "K=8 (sum cluster^2), every pruned pair is a true >= 0.45 cosine " +
    "neighbor, and a TRAINED quantizer flows through Ivf.semanticDedup " +
    "as a data swap") {
    import spark.implicits._
    import graft.queries.Ivf
    import org.apache.spark.sql.functions._
    // 10x corpus: sf0.1 embeddings replicated with disjoint id shifts
    // (the PLANS.md probe recipe) — 10x rows, same distribution.
    val dir10 = "/tmp/graft_sem10x"
    spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
      .unionByName(spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
        .withColumn("vec_id", col("vec_id") + lit(10000000L)))
      .write.mode("overwrite").parquet(s"$dir10/embeddings.parquet")
    val embs10x = (0 until 5).map(k =>
        spark.read.parquet(s"$dir10/embeddings.parquet")
          .withColumn("vec_id", col("vec_id") + lit(k * 100000000L)))
      .reduce(_ unionByName _)
    def centTable(cents: Seq[Array[Double]]) =
      cents.zipWithIndex.map { case (c, k) => (k, c.toSeq) }.toDF("k", "cvec")
    def clusterSizes(k: Int): Seq[Long] =
      Ivf.assigned(Ivf.scored(embs10x,
          centTable(queries.PipelineQueries.hashCentroidsOf(k))))
        .groupBy("cluster").count().collect().map(_.getLong(1)).toSeq
    val s8 = clusterSizes(8)
    val s32 = clusterSizes(32)
    assert(s8.sum === s32.sum) // same corpus either way
    val sq8 = s8.map(n => n * n).sum
    val sq32 = s32.map(n => n * n).sum
    assert(sq32 < sq8,
      s"finer quantizer must shrink the pair-work bound: sum(n^2) K=32 " +
        s"$sq32 !< K=8 $sq8")
    // Parse fallbacks for the runtime K knob.
    assert(queries.PipelineQueries.parseIvfK(Some("32")) === 32)
    assert(queries.PipelineQueries.parseIvfK(Some("0")) === 8)
    assert(queries.PipelineQueries.parseIvfK(Some("junk")) === 8)
    assert(queries.PipelineQueries.parseIvfK(None) === 8)

    // Prune at K=32 on the 10x corpus; verify every pruned pair is a
    // genuine cosine neighbor by recomputing the cosine locally.
    val pruned32 = Ivf.semanticDedup(embs10x,
        centTable(queries.PipelineQueries.hashCentroidsOf(32))).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    assert(pruned32.nonEmpty)
    assert(pruned32.forall { case (pruned, keeper) => keeper < pruned })
    val wanted = pruned32.take(50)
    val ids = wanted.flatMap(p => Seq(p._1, p._2)).distinct
    val vecById = embs10x.filter(col("vec_id").isin(ids: _*))
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    def cosine(a: Seq[Float], b: Seq[Float]): Double = {
      def d(x: Seq[Float], y: Seq[Float]): Double = {
        var acc = 0.0; var i = 0
        while (i < x.length) { acc += x(i).toDouble * y(i).toDouble; i += 1 }
        acc
      }
      d(a, b) / math.sqrt(d(a, a) * d(b, b))
    }
    wanted.foreach { case (pruned, keeper) =>
      assert(cosine(vecById(pruned), vecById(keeper)) >= 0.45,
        s"pruned pair ($keeper, $pruned) below the threshold")
    }

    // Trained quantizer: the same operator, centroids swapped as data.
    val embsSmall = spark.read.parquet(s"$sf/embeddings.parquet")
    val trained = Ivf.trainKMeans(embsSmall, iters = 3,
      init = queries.PipelineQueries.hashCentroidsOf(8))
    val prunedTrained = Ivf.semanticDedup(embsSmall, centTable(trained))
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(prunedTrained.forall { case (pruned, keeper) => keeper < pruned })
  }

  test("LSH-blocked candidates are a subset of the exact pairs (embed)") {
    val exact = run("p_dedup_embed").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val blocked = run("p_dedup_embed_lsh").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(blocked.subsetOf(exact))
    // No non-emptiness assertion: at cos >= 0.45 (a ~60° angle — these are
    // weak pairs, the testdata has no true embedding dups) a 4-plane sign
    // LSH collides only ~0.67^4 ≈ 20% of qualifying pairs, so tiny scale
    // factors can legitimately block everything. The driver's oracle proves
    // both engines compute the identical candidate set either way.
  }

  test("jaccard verify size gate: the corpus-derived shingle index is " +
    "never a broadcast build side past the gate (merge-hinted SMJ plan), " +
    "gated and ungated verification produce identical pairs, and the gate " +
    "trips on the session threshold") {
    import org.apache.spark.sql.functions.col
    val P = queries.PipelineQueries
    val sh = P.shingleIndexShared(spark, sf)
    val ids = spark.read.parquet(s"$sf/documents.parquet")
      .filter(col("doc_id") < 40).select(col("doc_id"))
    val cands = ids.select(col("doc_id").as("da"))
      .crossJoin(ids.select(col("doc_id").as("db")))
      .filter(col("da") < col("db"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(p => (p._1, p._2)).toSeq
    val bc = P.verifyJaccard(sh, cands, indexBroadcastable = true)
    val smj = P.verifyJaccard(sh, cands, indexBroadcastable = false)
    assert(rows(bc) === rows(smj))
    assert(rows(smj).nonEmpty)
    // The gated plan must not broadcast any shingle-index side; at this
    // tiny scale the ungated plan broadcasts (the misestimate the gate
    // exists to catch is only dangerous at corpus scale).
    val smjPlan = smj.queryExecution.executedPlan.toString
    assert(!smjPlan.contains("BroadcastHashJoin"), smjPlan)
    val bcPlan = bc.queryExecution.executedPlan.toString
    assert(bcPlan.contains("BroadcastHashJoin"), bcPlan)
    // Gate arithmetic: true under the default 10 MB threshold at sf0.001,
    // false in a session whose threshold is below the exploded estimate.
    assert(P.shingleIndexBroadcastable(spark, sf))
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "1024")
    assert(!P.shingleIndexBroadcastable(s2, sf))
  }

  test("minhash-LSH candidates verified by exact Jaccard are a subset of the " +
    "full inverted-index pairs") {
    val exact = run("p_dedup_ngram_jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = run("p_dedup_minhash_lsh").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact))
  }

  test("jaccard outputs satisfy the threshold arithmetic") {
    run("p_dedup_ngram_jaccard").collect().foreach { r =>
      val (common, union) = (r.getLong(2), r.getLong(3))
      assert(common > 0 && union >= common)
      assert(2 * common >= union, "below the J >= 0.5 threshold")
    }
  }

  test("ann top-k is dense-ranked per query and scores are sane") {
    val byQuery = run("p_ann_topk").collect()
      .groupBy(_.getLong(0))
    byQuery.foreach { case (_, rows) =>
      assert(rows.map(_.getLong(2)).sorted.toSeq === (1L to rows.length))
      // cosine*1e6 of unit-ish vectors stays within [-1e6, 1e6]
      assert(rows.forall(r => math.abs(r.getLong(3)) <= 1000000L))
    }
  }

  test("language id emits a known language with a nonnegative score") {
    val langs = Set("de", "en", "es", "fr", "zh")
    run("p_text_langid").collect().foreach { r =>
      assert(langs.contains(r.getString(1)))
      assert(r.getLong(2) >= 0L)
    }
  }

  test("approximate distinct stays within the configured error bound") {
    run("p_approx_distinct").collect().foreach { r =>
      val (exact, approx) = (r.getLong(1), r.getLong(2))
      assert(exact > 0)
      // rsd=0.02 is a standard deviation, not a hard bound; tiny groups
      // (tens of values at sf0.001) need an absolute floor on the slack.
      val slack = math.max(3.0, 0.05 * exact)
      assert(math.abs(approx - exact) <= slack,
        s"source=${r.getString(0)} exact=$exact approx=$approx")
    }
  }

  test("approximate quantiles stay within the sketch's rank-error bound of " +
    "exact percentiles") {
    implicit val s = spark
    val sfDir = sf
    val exact = s.read.parquet(s"$sfDir/documents.parquet")
      .groupBy("source")
      .agg(org.apache.spark.sql.functions.expr(
        "percentile(n_chars, array(0.5, 0.9, 0.99))").as("eq"))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    run("p_approx_quantiles").collect().foreach { r =>
      val src = r.getString(0)
      val (p50, p90, p99) = (r.getLong(1), r.getLong(2), r.getLong(3))
      val n = r.getLong(6).toDouble
      // accuracy=10000 -> rank error <= n/10000; tiny groups get a floor.
      val rankSlack = math.max(2.0, n / 10000.0)
      // Convert rank slack to a VALUE slack via the observed spread (chars
      // per rank step is bounded by the full range for these small groups).
      val spread = (r.getLong(5) - r.getLong(4)).toDouble.max(1.0)
      val valueSlack = rankSlack / n * spread * 3 + 3
      Seq((p50, exact(src)(0)), (p90, exact(src)(1)), (p99, exact(src)(2)))
        .foreach { case (approx, ex) =>
          assert(math.abs(approx - ex) <= valueSlack,
            s"source=$src approx=$approx exact=$ex slack=$valueSlack")
        }
      assert(r.getLong(4) <= p50 && p50 <= p90 && p90 <= p99 && p99 <= r.getLong(5))
    }
  }

  test("semantic dedup equals a Scala model: IVF cluster assignment + " +
    "within-cluster lower-neighbor prune at cosine >= 0.45") {
    val centroids = queries.PipelineQueries.ivfHashCentroids
    def dotFD(a: Seq[Float], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i).toDouble * b(i); i += 1 }
      acc
    }
    def dotFF(a: Seq[Float], b: Seq[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
      acc
    }
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).sortBy(_._1)
    val assigned = vecs.map { case (id, v) =>
      val scores = centroids.map(c => dotFD(v, c))
      val best = scores.max
      (id, v, math.sqrt(dotFF(v, v)), scores.indexWhere(_ == best))
    }
    val expected = (for {
      (ia, va, na, ca) <- assigned
      (ib, vb, nb, cb) <- assigned
      if ca == cb && ia < ib && dotFF(va, vb) / (na * nb) >= 0.45
    } yield (ib, ca, ia)).groupBy(p => (p._1, p._2))
      .map { case ((pruned, cl), ps) =>
        (pruned, cl, ps.map(_._3).min, ps.length.toLong)
      }.toSeq.sortBy(_._1)
    val got = run("p_dedup_semantic").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got === expected)
    assert(got.forall { case (pruned, _, keeper, n) => keeper < pruned && n >= 1 })
  }

  test("bloom decontamination: per-doc counts dominate the exact join's, " +
    "flags are a superset, and false positives stay within the fpp budget") {
    val exact = run("p_decontaminate").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val bloom = run("p_decontaminate_bloom").collect()
    assert(bloom.length === exact.size)
    var extra = 0L
    var probes = 0L
    bloom.foreach { r =>
      val (id, nb, ns, fl) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      val (ne, nsExact, flExact) = exact(id)
      assert(ns === nsExact, s"doc $id shingle count")
      assert(nb >= ne, s"doc $id: bloom count $nb below exact $ne")
      if (flExact == 1L) assert(fl === 1L, s"doc $id lost its exact flag")
      extra += nb - ne
      probes += ns
    }
    // fpp = 1e-3 per probe; allow a 10x cushion plus a small-corpus floor.
    assert(extra <= probes / 100 + 10, s"$extra false positives over $probes probes")
  }

  // Full Scala model of the curation stage chain for a given eval slice —
  // returns the expected (doc_id, source, n_tokens, weight_ppm, n_repeats).
  private def curationModel(evalSources: Set[String]): Seq[(Long, String, Long, Long, Long)] = {
    def md5hex(t: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val corpus = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))

    // Stage 1+2: train slice, Gopher rules.
    def gopherKeep(text: String): Boolean = {
      val ws = text.split(" ", -1)
      val n = ws.length.toLong
      val chars = text.replace(" ", "").length.toLong
      val stop = ws.count(w => w == "the" || w == "a").toLong
      val top = ws.groupBy(identity).values.map(_.length).max.toLong
      n >= 50 && n <= 100000 && 3 * n <= chars && chars <= 10 * n &&
        stop >= 2 && 5 * top <= n
    }
    val quality = corpus.filter { case (_, src, text) =>
      !evalSources.contains(src) && gopherKeep(text)
    }
    // Stage 3: exact dedup, keeper = min doc_id per md5(text).
    val keepers = quality.groupBy(d => md5hex(d._3)).values
      .map(g => g.minBy(_._1)).toSeq
    // Stage 4: component collapse over survivor-restricted verified pairs.
    val ids = keepers.map(_._1).toSet
    val pairs = run("p_dedup_minhash_lsh").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => ids.contains(a) && ids.contains(b) }
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nearDup = keepers.filter(d => find(d._1) == d._1)
    // Stage 5: decontamination at the pipeline's 80% verbatim cut.
    def shingles(text: String): Set[String] =
      text.split(" ", -1).sliding(3).filter(_.length == 3)
        .map(_.mkString(" ")).toSet
    val evalSh = corpus.filter(d => evalSources.contains(d._2))
      .flatMap(d => shingles(d._3)).toSet
    val clean = nearDup.filter { d =>
      val sh = shingles(d._3)
      sh.isEmpty || (sh.count(evalSh.contains) * 100 < 80 * sh.size)
    }
    // Stage 6: survivor-weighted uniform-target resample.
    val perSource = clean.groupBy(_._2).map { case (src, ds) =>
      src -> ds.map(_._3.split(" ", -1).length.toLong).sum
    }
    val totalTokens = perSource.values.sum
    val nSources = perSource.size.toLong
    clean.map { case (id, src, text) =>
      val w = (totalTokens * 1000000L) / (nSources * perSource(src))
      val h = BigInt(md5hex(text + id).take(15), 16).toLong % 1000000L
      (id, src, text.split(" ", -1).length.toLong,
        w, w / 1000000L + (if (h < w % 1000000L) 1L else 0L))
    }.sortBy(_._1).toSeq
  }

  test("curation pipeline equals a full Scala model of the stage chain " +
    "(quality -> exact dedup -> component collapse -> decontamination -> " +
    "survivor-weighted resample)") {
    val nDocs = spark.read.parquet(s"$sf/documents.parquet").count()
    val expected = curationModel(Set("src0", "src1"))
    val got = run("p_curation_pipeline").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(got === expected)
    assert(got.nonEmpty, "pipeline should keep part of the corpus")
    assert(got.length < nDocs, "pipeline should drop part of the corpus")

    // Funnel audit: monotone non-increasing, ends at the survivor count.
    val funnel = run("p_curation_funnel_full").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(funnel.map(_._1) ===
      Array("a_raw", "b_quality", "c_exact_dedup", "d_near_dedup",
        "e_decontaminated"))
    assert(funnel.map(_._2).sliding(2).forall(p => p(0) >= p(1)))
    assert(funnel.last._2 === got.length.toLong)
  }

  test("curation pipeline honors a NON-DEFAULT eval slice end to end — " +
    "decontamination measures against the configured sources, not src0/src1") {
    val expected = curationModel(Set("src2"))
    val got = queries.CurationPipeline
      .curate(spark, sf, evalSources = Seq("src2"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(got === expected)
    assert(got.nonEmpty)
    // src2 is held out; src0/src1 are train under this configuration.
    assert(got.forall(_._2 != "src2"))
    assert(got.exists(d => d._2 == "src0" || d._2 == "src1"),
      "former eval sources must re-enter the train corpus")
  }

  test("p_dedup_embed guard: refuses a corpus past the configured row " +
    "ceiling, pointing at the LSH scale path; passes under it; malformed " +
    "env overrides fall back to the default") {
    val ex = intercept[IllegalArgumentException] {
      queries.PipelineQueries.guardEmbedExact(spark, sf, maxRows = 1L)
    }
    assert(ex.getMessage.contains("p_dedup_embed_lsh"))
    queries.PipelineQueries.guardEmbedExact(spark, sf) // under default: fine
    assert(run("p_dedup_embed").count() > 0)
    assert(queries.PipelineQueries.parseEmbedExactMax(Some("12")) === 12L)
    assert(queries.PipelineQueries.parseEmbedExactMax(Some("nope")) === 250000L)
    assert(queries.PipelineQueries.parseEmbedExactMax(Some("0")) === 250000L)
    assert(queries.PipelineQueries.parseEmbedExactMax(Some("-5")) === 250000L)
    assert(queries.PipelineQueries.parseEmbedExactMax(None) === 250000L)
  }

  test("curation stage chain is memoized per configuration — a repeat call " +
    "reuses the cached frames instead of accumulating a new copy, and " +
    "release() drops them without poisoning later re-derivation") {
    val a = queries.CurationPipeline.curate(spark, sf)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val before = spark.sparkContext.getPersistentRDDs.size
    val b = queries.CurationPipeline.curate(spark, sf)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(spark.sparkContext.getPersistentRDDs.size === before,
      "repeat call with identical parameters must not add cached relations")
    assert(b === a)
    queries.CurationPipeline.release(spark, sf)
    assert(spark.sparkContext.getPersistentRDDs.size < before,
      "release must drop the chain's cached/checkpointed blocks")
    val c = queries.CurationPipeline.curate(spark, sf)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(c === a)
    queries.CurationPipeline.release(spark, sf)
  }

  test("bigram LM fit score equals a Scala model: per-doc mean of " +
    "c(w1 w2)*1e6 div c(w1 .) over the corpus's own bigram counts") {
    val corpus = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val bigrams = corpus.flatMap { case (id, t) =>
      t.split(" ", -1).sliding(2).filter(_.length == 2).map(a => (id, a(0), a(1)))
    }
    val c12 = bigrams.groupBy(b => (b._2, b._3)).map { case (k, v) => k -> v.size }
    val c1 = bigrams.groupBy(_._2).map { case (k, v) => k -> v.size }
    val expected = bigrams.groupBy(_._1).map { case (id, bs) =>
      val ppms = bs.map(b => BigInt(c12((b._2, b._3))) * 1000000 / c1(b._2))
      (id, bs.length.toLong, (ppms.sum / ppms.length).toLong)
    }.toSeq.sortBy(_._1)
    val got = run("p_lm_bigram_score").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === expected)
    // A conditional-probability mean lives in (0, 1e6] ppm.
    assert(got.forall(r => r._3 > 0 && r._3 <= 1000000L))
    assert(got.map(_._3).distinct.length > 1, "scores should discriminate")
  }

  test("DSIR importance equals a Scala model: train-doc target-fit minus " +
    "corpus-fit in exact ppm, eval slice excluded, zero-smoothed OOV") {
    val corpus = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text", "source").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def bigramsOf(rows: Seq[(Long, String, String)]) = rows.flatMap { case (id, t, _) =>
      t.split(" ", -1).sliding(2).filter(_.length == 2).map(a => (id, a(0), a(1)))
    }
    val (eval_, train) = corpus.partition(r => r._3 == "src0" || r._3 == "src1")
    val bt = bigramsOf(eval_)
    val bc = bigramsOf(train.toSeq)
    def modelOf(bs: Seq[(Long, String, String)]) = (
      bs.groupBy(b => (b._2, b._3)).map { case (k, v) => k -> v.size },
      bs.groupBy(_._2).map { case (k, v) => k -> v.size })
    val (c12t, c1t) = modelOf(bt)
    val (c12c, c1c) = modelOf(bc)
    def ppm(c12: Map[(String, String), Int], c1: Map[String, Int],
        b: (Long, String, String)): BigInt =
      (c12.get((b._2, b._3)), c1.get(b._2)) match {
        case (Some(n), Some(d)) => BigInt(n) * 1000000 / d
        case _                  => BigInt(0)
      }
    val expected = bc.groupBy(_._1).map { case (id, bs) =>
      val t = bs.map(ppm(c12t, c1t, _)).sum / bs.length
      val c = bs.map(ppm(c12c, c1c, _)).sum / bs.length
      (id, bs.length.toLong, t.toLong, c.toLong, (t - c).toLong)
    }.toSeq.sortBy(_._1)
    val got = run("p_dsir_importance").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got === expected)
    val evalIds = eval_.map(_._1).toSet
    assert(got.forall(r => !evalIds.contains(r._1)), "eval docs must not be scored")
    assert(got.exists(_._5 != 0L), "importance should discriminate")
  }

  test("winnowing fingerprints equal a Scala model (window-min over " +
    "positional 4-gram hashes) and honor the MOSS guarantee: a shared " +
    "7-word run forces a shared fingerprint") {
    import spark.implicits._
    def winnow(text: String): (Long, Set[Long]) = {
      val ws = text.split(" ", -1)
      val gs = ws.sliding(4).filter(_.length == 4).map(_.mkString(" ")).toArray
      val hs = gs.map(g => java.lang.Long.parseLong(
        org.apache.commons.codec.digest.DigestUtils.md5Hex(g).substring(0, 8), 16))
      val n = math.max(hs.length - 3, 1)
      (gs.length.toLong,
        (0 until n).map(i => hs.slice(i, i + 4).min).toSet)
    }
    val corpus = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .filter(_._2.split(" ", -1).length >= 4)
    val models = corpus.map { case (id, t) => id -> winnow(t) }.toMap
    val docCount = models.values.flatMap(_._2.map(_ -> 1)).groupBy(_._1)
      .map { case (fp, xs) => fp -> xs.size }
    val expected = models.toSeq.sortBy(_._1).map { case (id, (ng, fps)) =>
      (id, ng, fps.size.toLong, fps.count(docCount(_) >= 2).toLong)
    }
    val got = run("p_winnow_fingerprint").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got === expected)
    // Selection density: winnowing keeps ~1/w of grams, never more than all.
    got.foreach { case (id, ng, nfp, _) =>
      assert(nfp >= 1 && nfp <= ng, s"doc $id selected $nfp of $ng")
    }

    // The guarantee, end to end on a synthetic corpus: two docs sharing a
    // 7-word run (w + k - 1 = 4 + 4 - 1) MUST share a fingerprint; a doc
    // with fully disjoint vocabulary shares none.
    val shared = "alpha beta gamma delta epsilon zeta eta"
    val dir = tmpDir("winnow")
    Seq(
      (1L, s"one two $shared three four", "en", "srcA", 0L),
      (2L, s"five six seven $shared eight", "en", "srcA", 0L),
      (3L, "p q r s t u v w x y z aa bb cc", "en", "srcA", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val synth = SparkEntry.queries("p_winnow_fingerprint")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(synth(1L) >= 1L && synth(2L) >= 1L,
      "docs sharing a 7-word run must share a fingerprint")
    assert(synth(3L) === 0L, "disjoint-vocabulary doc must share nothing")
  }

  test("count-min-sketch heavy hitters: estimates dominate exact counts, " +
    "agree with the exact top-k keys, and overshoot stays within eps*N") {
    val exact = run("p_ngram_topk").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val got = run("p_ngram_topk_cms").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.map(r => (r._1, r._2)).toSeq === exact.toSeq)
    val totalBigrams = spark.read.parquet(s"$sf/documents.parquet")
      .selectExpr("sum(greatest(size(split(text, ' ')) - 1, 0))")
      .collect()(0).getLong(0)
    got.foreach { case (bigram, exactN, cmsN) =>
      assert(cmsN >= exactN, s"'$bigram': cms $cmsN below exact $exactN")
      // eps = 1e-4 per-row overshoot bound, with slack for the tiny corpus.
      assert(cmsN - exactN <= totalBigrams / 1000 + 3,
        s"'$bigram': overshoot ${cmsN - exactN} over N=$totalBigrams")
    }
  }

  test("CMS probe is a codegen'd expression (no ScalaUDF in the plan) and " +
    "agrees exactly with the sketch API's own estimateCount") {
    import spark.implicits._
    // Optimized LOGICAL plan: the physical TakeOrderedAndProject prints
    // only output attributes, hiding the projection's expressions.
    val plan = SparkEntry.queries("p_ngram_topk_cms")(spark, sf)
      .queryExecution.optimizedPlan.toString
    assert(!plan.contains("ScalaUDF"),
      "CMS probe must not plan a closure UDF")
    assert(plan.contains("graft_cms_estimate_count"),
      "CMS probe expression missing from the plan")
    // Build a sketch over known keys and probe it through the expression:
    // every estimate must equal the sketch object's own answer — the
    // byte-probe convention (UTF8String bytes) can never drift from the
    // builder's String-insert convention (both hash UTF-8 bytes).
    val keys = Seq("alpha beta", "beta gamma", "delta", "unseen key")
    val df = (keys.dropRight(1) ++ keys.dropRight(1) ++ keys.take(1))
      .toDF("k")
    val cmsObj = df.stat.countMinSketch("k", 1e-4, 0.999, 7)
    val bytes = graft.functions.CmsSketch.serialize(cmsObj)
    val probed = keys.toDF("k")
      .withColumn("est",
        graft.functions.CmsSketch.estimateCount(bytes,
          org.apache.spark.sql.functions.col("k")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    keys.foreach { k =>
      assert(probed(k) === cmsObj.estimateCount(k),
        s"expression estimate for '$k' diverges from the sketch API")
    }
  }

  test("gopher top-word HOF equals a naive Scala frequency model on seeded " +
    "random word arrays (runs, ties, singletons, repeats-only)") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260813L)
    val vocab = Vector("a", "b", "cc", "the", "zz")
    val texts = Vector.tabulate(200) { i =>
      val n = 1 + rnd.nextInt(30)
      Vector.fill(n)(vocab(rnd.nextInt(vocab.length))).mkString(" ")
    } :+ "solo" :+ "x x x x" :+ "a b a b a"
    val got = queries.GopherRules.withFlags(
      texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text"))
      .select("doc_id", "top_word_n").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      val expected = t.split(" ", -1).groupBy(identity).values.map(_.length).max.toLong
      assert(got(i.toLong) === expected, s"text '$t'")
    }
  }

  test("gopher quality rules and int8 quantization stay scan-local: no " +
    "aggregation or join shuffle in the per-doc/per-vector stage") {
    // p_quality_gopher's top-word count is a HOF fold, not explode+groupBy,
    // so the only Exchange is the oracle-compare orderBy; p_embed_quantize
    // aggregates per label AFTER the scan-local array math (one partial agg).
    val gplan = run("p_quality_gopher").queryExecution.executedPlan.toString
    assert(!gplan.contains("HashAggregate") && !gplan.contains("SortMergeJoin")
      && !gplan.contains("BroadcastHashJoin"))
    val keep = run("p_quality_gopher").collect().map { r =>
      val flags = Seq("r_wordcount", "r_wordlen", "r_stopwords", "r_repetition")
        .map(f => r.getLong(r.fieldIndex(f)))
      (flags, r.getLong(r.fieldIndex("keep")))
    }
    keep.foreach { case (flags, k) =>
      assert(k === flags.min, "keep must be the conjunction of the four rules")
    }
    assert(keep.exists(_._2 == 1L) && keep.exists(_._2 == 0L),
      "testdata should exercise both keep outcomes")
  }

  test("int8 quantization: quantized ints live in [-127,127] and " +
    "dequantization error is bounded by scale/2 per element") {
    val report = run("p_embed_quantize").collect()
    assert(report.nonEmpty)
    report.foreach { r =>
      assert(r.getLong(1) > 0, "n_vecs")
      assert(r.getDouble(2) > 0.0, "avg_scale")
      assert(r.getInt(4) <= 127, "max_linf_q")
    }
    // Per-element contract, recomputed from the raw table (the query only
    // reports per-label aggregates so its output stays small).
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("embedding").collect().map(_.getSeq[Float](0))
    assert(vecs.nonEmpty)
    vecs.foreach { v =>
      val scale = v.map(x => math.abs(x.toDouble)).max / 127.0
      assert(scale > 0.0) // testdata has no all-zero vectors
      v.foreach { x =>
        val q = math.round(x / scale)
        assert(q >= -127 && q <= 127, s"q=$q out of int8 symmetric range")
        assert(math.abs(q * scale - x) <= scale / 2 + 1e-12,
          s"dequant error ${math.abs(q * scale - x)} > ${scale / 2}")
      }
    }
  }

  test("multimodal decode (real javax.imageio PNG path) is deterministic " +
    "and total; decoded dims round-trip the encoder's") {
    val a = run("p_multimodal_decode").collect()
    val b = run("p_multimodal_decode").collect()
    assert(a.length === b.length && a.length > 0)
    assert(a.map(_.toSeq).toSet === b.map(_.toSeq).toSet)
    a.foreach { r =>
      assert(r.getLong(1) >= 16 && r.getLong(1) < 32) // width
      assert(r.getLong(3) === r.getLong(1) * r.getLong(2)) // n_pixels
      val lum = r.getLong(4)
      assert(lum >= 0 && lum <= 255000) // BT.601 luma * 1000
    }
  }

  test("jaccard verification paths agree: size-gated shuffle join (broadcast " +
    "disabled) produces exactly the broadcast path's pairs") {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val orig = spark.conf.get(key)
    val viaBroadcast = run("p_dedup_ngram_jaccard").collect().map(_.toSeq).toSeq
    try {
      spark.conf.set(key, "-1") // gate closed -> shuffle-join verification
      val viaShuffle = run("p_dedup_ngram_jaccard").collect().map(_.toSeq).toSeq
      assert(viaShuffle === viaBroadcast)
    } finally spark.conf.set(key, orig)
  }

  test("Media: PNG encode/decode round-trips dimensions through the real " +
    "JDK codec, is deterministic, and rejects junk payloads") {
    import graft.functions.Media
    val png = Media.textToPng("hello multimodal world")
    // A real PNG: magic bytes present.
    assert(png.take(4).toSeq === Seq[Byte](0x89.toByte, 'P', 'N', 'G'))
    val (w, h, lum) = Media.decodePng(png)
    assert(w >= 16 && w < 32 && h >= 16 && h < 32)
    assert(lum > 0 && lum < 255000)
    // Determinism across calls (and thus across executors/retries).
    assert(Media.textToPng("hello multimodal world").toSeq === png.toSeq)
    // Distinct frames render distinct images (keyframe sampling).
    assert(Media.textToPng("hello multimodal world", frame = 4).toSeq !== png.toSeq)
    // Junk payload fails loudly, not with a null-deref downstream.
    intercept[IllegalArgumentException] {
      Media.decodePng("not a png".getBytes("UTF-8"))
    }
  }

  private def md5h(s: String, k: Int): Long = java.lang.Long.parseLong(
    org.apache.commons.codec.digest.DigestUtils.md5Hex(s).substring(0, k), 16)

  test("token chunking equals the Scala sliding-window model, covers every " +
    "token exactly, and stays scan-local") {
    val corpus = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val expected = corpus.flatMap { case (id, t) =>
      val ws = t.split(" ", -1)
      val nch = if (ws.length <= 32) 1 else 1 + (ws.length - 9) / 24
      (0 until nch).map { i =>
        val cws = ws.slice(i * 24, math.min(i * 24 + 32, ws.length))
        (id, i.toLong, i * 24 + 1L, cws.length.toLong, md5h(cws.mkString(" "), 15))
      }
    }.sortBy(r => (r._1, r._2)).toSeq
    val got = run("p_chunk_tokens").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got === expected)
    // Coverage: per doc, chunk i spans tokens [24i+1, 24i+n_tokens]; the
    // last chunk must END at the doc's token count and starts must step by
    // the stride — together that is exact coverage with 8-token overlap.
    corpus.foreach { case (id, t) =>
      val n = t.split(" ", -1).length
      val chunks = got.filter(_._1 == id).sortBy(_._2)
      assert(chunks.head._3 == 1L)
      assert(chunks.last._3 + chunks.last._4 - 1 == n, s"doc $id tail")
      chunks.sliding(2).foreach {
        case Seq(a, b) => assert(b._3 - a._3 == 24, s"doc $id stride")
        case _ =>
      }
    }
    // Scan-local: chunking itself has no aggregate or join; the only
    // exchange is the oracle-compare sort.
    val plan = run("p_chunk_tokens").queryExecution.executedPlan.toString
    assert(!plan.contains("HashAggregate") && !plan.contains("SortMergeJoin")
      && !plan.contains("BroadcastHashJoin"))
  }

  test("training-shard manifest equals the Scala model: md5 shard " +
    "assignment, per-shard mass, source mix, and shard-order head doc") {
    val corpus = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text", "source").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val keyed = corpus.map { case (id, t, src) =>
      val okey = md5h(s"$id:$t", 15)
      (okey % 64, id, t.split(" ", -1).length.toLong, src, okey)
    }
    val expected = keyed.groupBy(_._1).toSeq.sortBy(_._1).map { case (sh, xs) =>
      (sh, xs.length.toLong, xs.map(_._3).sum, xs.map(_._4).distinct.length.toLong,
        xs.minBy(x => (x._5, x._2))._2)
    }
    val got = run("p_train_shards").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got === expected)
    // A permutation, not a partition of the id space: every doc in exactly
    // one shard, and (on this corpus) the hash spreads docs over many
    // shards rather than clumping.
    assert(got.map(_._2).sum === corpus.length.toLong)
    assert(got.length >= 48, s"only ${got.length} of 64 shards populated")
  }

  test("substring-dedup rewrite equals the Scala first-occurrence model " +
    "and removes a cross-doc duplicated block end to end") {
    import spark.implicits._
    val corpus = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    // Model: global first occurrence per block hash by (doc_id, idx).
    val occ = corpus.flatMap { case (id, t) =>
      val ws = t.split(" ", -1)
      (0 until ws.length / 8).map { i =>
        (md5h(ws.slice(i * 8, i * 8 + 8).mkString(" "), 15), id, i)
      }
    }
    val keepOrd = occ.groupBy(_._1).map { case (h, xs) =>
      h -> xs.map(x => x._2 * 1000000L + x._3).min
    }
    val expected = corpus.map { case (id, t) =>
      val ws = t.split(" ", -1)
      val nb = ws.length / 8
      val blocks = (0 until nb).map(i => ws.slice(i * 8, i * 8 + 8).mkString(" "))
      val kept = blocks.zipWithIndex.filter { case (b, i) =>
        keepOrd(md5h(b, 15)) == id * 1000000L + i
      }.map(_._1)
      val tail = ws.drop(nb * 8).mkString(" ")
      val newText = (kept ++ (if (tail.nonEmpty) Seq(tail) else Nil)).mkString(" ")
      (id, nb.toLong, (nb - kept.length).toLong,
        (ws.length - 8 * (nb - kept.length)).toLong, md5h(newText, 15))
    }.toSeq
    val got = run("p_substr_dedup").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got === expected)

    // E2E on a synthetic corpus: doc 2's first block repeats doc 1's
    // second block and must be cut; the rewrite keeps everything else.
    val a = (1 to 16).map(i => s"w$i").mkString(" ")          // blocks A0, A1
    val b = ((9 to 16).map(i => s"w$i") ++ (1 to 8).map(i => s"x$i")).mkString(" ")
    val dir = tmpDir("substr")
    Seq((1L, a, "en", "srcA", 0L), (2L, b, "en", "srcA", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val synth = SparkEntry.queries("p_substr_dedup")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(synth(1L) === ((2L, 0L, 16L, md5h(a, 15))), "keeper doc untouched")
    val bRewritten = (1 to 8).map(i => s"x$i").mkString(" ")
    assert(synth(2L) === ((2L, 1L, 8L, md5h(bRewritten, 15))),
      "duplicated block must be removed and the doc rewritten")
  }

  test("PQ ANN equals the Scala encode+ADC model and emits a full top-5 " +
    "per probe") {
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def coefs(m: Int, j: Int): Array[Double] =
      Array.tabulate(8)(i => md5h(s"pq_${m}_${j}_$i", 8).toDouble / 2147483648.0 - 1.0)
    def dotD(x: Array[Float], off: Int, c: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < 8) { acc += x(off + i).toDouble * c(i); i += 1 }
      acc
    }
    val norm2 = Array.tabulate(8, 16) { (m, j) =>
      val c = coefs(m, j); var acc = 0.0; var i = 0
      while (i < 8) { acc += c(i) * c(i); i += 1 }
      acc
    }
    val codes = vecs.map { case (id, x) =>
      id -> Array.tabulate(8) { m =>
        (0 until 16).minBy(j => (norm2(m)(j) - 2.0 * dotD(x, m * 8, coefs(m, j)), j))
      }
    }.toMap
    val probes = vecs.filter(_._1 < 20)
    val expected = probes.sortBy(_._1).flatMap { case (qid, q) =>
      val lut = Array.tabulate(8, 16) { (m, j) =>
        math.floor(1000000.0 * dotD(q, m * 8, coefs(m, j))).toLong
      }
      vecs.filter(_._1 != qid).map { case (nid, _) =>
        val adc = (0 until 8).map(m => lut(m)(codes(nid)(m))).sum
        (nid, adc)
      }.sortBy { case (nid, adc) => (-adc, nid) }.take(5).zipWithIndex
        .map { case ((nid, adc), r) => (qid, nid, r + 1L, adc) }
    }.toSeq
    val got = run("p_ann_pq").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got === expected)
    assert(got.groupBy(_._1).size === probes.length)
    got.groupBy(_._1).values.foreach(g =>
      assert(g.map(_._3).sorted === Seq(1L, 2L, 3L, 4L, 5L)))
  }

  test("hashed quality classifier equals the Scala bag-of-buckets model " +
    "and runs with zero shuffle before the compare sort") {
    val weights = Array.tabulate(64) { b =>
      (md5h(s"qw_$b", 8) % 2000001L) - 1000000L
    }
    val expected = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "source", "text").collect()
      .map { r =>
        val words = r.getString(2).split(" ", -1)
        val score = words.map(w => weights((md5h(w, 8) % 64).toInt)).sum
        (r.getLong(0), r.getString(1), words.length.toLong, score,
          if (score >= 0) 1L else 0L)
      }.sortBy(_._1).toSeq
    val got = run("p_quality_classifier").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got === expected)
    // Both classes occur (the filter actually separates), and the plan is
    // scan-local: no aggregation or join shuffle — the model rides in the
    // scan as a map literal.
    assert(got.map(_._5).toSet === Set(0L, 1L))
    val plan = run("p_quality_classifier").queryExecution.executedPlan.toString
    assert(!plan.contains("HashAggregate") && !plan.contains("Join"))
  }

  test("semantic decontamination equals the Scala best-eval-match model") {
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1).toLong,
        r.getSeq[Float](2).toArray))
    def dotF(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
      acc
    }
    val evals = vecs.filter(_._1 < 20)
    val expected = vecs.filter(_._1 >= 20).sortBy(_._1).map {
      case (id, label, emb) =>
        val n = math.sqrt(dotF(emb, emb))
        val (bid, cos) = evals.map { case (eid, _, ee) =>
          (eid, dotF(emb, ee) / (n * math.sqrt(dotF(ee, ee))))
        }.maxBy { case (eid, c) => (c, -eid) }
        (id, label, bid, math.floor(cos * 1e6).toLong,
          if (cos >= 0.42) 1L else 0L)
    }.toSeq
    val got = run("p_decontaminate_semantic").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got === expected)
    // The threshold separates: contamination exists but is rare.
    val nc = got.count(_._5 == 1L)
    assert(nc > 0 && nc < got.size / 10)
  }

  test("margin-based bitext mining equals the Scala neighborhood model") {
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Float](2).toArray))
    def plane(p: Int): Array[Double] =
      Array.tabulate(64)(i => md5h(s"${p}_$i", 8).toDouble / 2147483648.0 - 1.0)
    def dotF(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
      acc
    }
    def dotP(a: Array[Float], c: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i).toDouble * c(i); i += 1 }
      acc
    }
    val planes = Array.tabulate(4)(plane)
    def bucket(x: Array[Float]): Long =
      (0 until 4).map(p => if (dotP(x, planes(p)) >= 0) 1L << p else 0L).sum
    val withB = vecs.map { case (id, l, x) =>
      (id, l, x, bucket(x), math.sqrt(dotF(x, x)))
    }
    val as = withB.filter(_._2 == 0)
    val bs = withB.filter(_._2 == 1)
    val cand = for {
      (aid, _, ax, ab, an) <- as
      (bid, _, bx, bb, bn) <- bs if ab == bb
      cm = math.floor(dotF(ax, bx) / (an * bn) * 1e6).toLong if cm > 0
    } yield (aid, bid, cm)
    def topAvg(xs: Seq[(Long, Long)]): Long = {
      // xs = (partnerId, cos_micro); top-4 by (cos desc, partner asc).
      val top = xs.sortBy { case (p, c) => (-c, p) }.take(4)
      top.map(_._2).sum / top.size
    }
    val avgA = cand.groupBy(_._1).map { case (aid, xs) =>
      aid -> topAvg(xs.map(x => (x._2, x._3)).toSeq) }
    val avgB = cand.groupBy(_._2).map { case (bid, xs) =>
      bid -> topAvg(xs.map(x => (x._1, x._3)).toSeq) }
    val expected = cand.map { case (aid, bid, cm) =>
      (aid, bid, cm, cm * 1000000L / ((avgA(aid) + avgB(bid)) / 2))
    }.groupBy(_._1).toSeq.sortBy(_._1).map { case (_, xs) =>
      val (aid, bid, cm, m) = xs.maxBy { case (_, b, _, m) => (m, -b) }
      (aid, bid, cm, m, if (m >= 1200000L) 1L else 0L)
    }
    val got = run("p_bitext_mine").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got === expected)
    // The margin criterion separates: some best pairs accepted, not all.
    assert(got.exists(_._5 == 1L) && got.exists(_._5 == 0L))
  }

  /** Spark compares strings as unsigned UTF-8 bytes; the reference BPE
    * models must break count ties the same way (String.compareTo would
    * diverge on supplementary-plane characters). */
  private val utf8Order: Ordering[String] = (a: String, b: String) => {
    val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n && x(i) == y(i)) i += 1
    if (i < n) (x(i) & 0xff) - (y(i) & 0xff) else x.length - y.length
  }

  test("BPE training equals the Scala reference trainer, with " +
    "non-increasing merge counts") {
    val texts = spark.read.parquet(s"$sf/documents.parquet")
      .select("text").collect().map(_.getString(0))
    var vocab: Seq[(Vector[String], Long)] = texts
      .flatMap(_.split(" ", -1)).filter(_.nonEmpty)
      .groupBy(identity).view
      .map { case (w, xs) => (w.map(_.toString).toVector, xs.length.toLong) }
      .toSeq
    def fold(syms: Vector[String], l: String, r: String): Vector[String] =
      syms.foldLeft(Vector.empty[String]) { (acc, x) =>
        if (acc.nonEmpty && acc.last == l && x == r)
          acc.init :+ (l + r)
        else acc :+ x
      }
    val expected = (1 to 10).flatMap { rank =>
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      vocab.foreach { case (syms, n) =>
        syms.sliding(2).foreach {
          case Vector(a, b) => counts((a, b)) = counts.getOrElse((a, b), 0L) + n
          case _ =>
        }
      }
      if (counts.isEmpty) None
      else {
        val ((l, r), cnt) = counts.minBy { case ((a, b), c) => (-c, a, b) }(
          Ordering.Tuple3(Ordering.Long, utf8Order, utf8Order))
        vocab = vocab.map { case (syms, n) => (fold(syms, l, r), n) }
        Some((rank.toLong, l, r, l + r, cnt))
      }
    }
    val got = run("p_bpe_train").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3),
        r.getLong(4))).toSeq
    assert(got === expected)
    // The guarantee: a merge's count never exceeds any earlier merge's
    // (new pairs created by a merge are bounded by that merge's count).
    got.sliding(2).foreach {
      case Seq(a, b) => assert(b._5 <= a._5)
      case _ =>
    }
  }

  test("BPE encoding applies the learned merges exactly (Scala model), " +
    "and every merge strictly reduces the corpus token count") {
    val rows = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    def fold(syms: Vector[String], l: String, r: String): Vector[String] =
      syms.foldLeft(Vector.empty[String]) { (acc, x) =>
        if (acc.nonEmpty && acc.last == l && x == r) acc.init :+ (l + r)
        else acc :+ x
      }
    // Re-derive the merge list with the independent trainer model.
    var vocab: Seq[(Vector[String], Long)] = rows.map(_._2)
      .flatMap(_.split(" ", -1)).filter(_.nonEmpty)
      .groupBy(identity).view
      .map { case (w, xs) => (w.map(_.toString).toVector, xs.length.toLong) }
      .toSeq
    val merges = (1 to 10).flatMap { _ =>
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      vocab.foreach { case (syms, n) =>
        syms.sliding(2).foreach {
          case Vector(a, b) => counts((a, b)) = counts.getOrElse((a, b), 0L) + n
          case _ =>
        }
      }
      if (counts.isEmpty) None
      else {
        val ((l, r), _) = counts.minBy { case ((a, b), c) => (-c, a, b) }(
          Ordering.Tuple3(Ordering.Long, utf8Order, utf8Order))
        vocab = vocab.map { case (syms, n) => (fold(syms, l, r), n) }
        Some((l, r))
      }
    }
    def encodeWord(w: String): Vector[String] =
      merges.foldLeft(w.map(_.toString).toVector) { case (syms, (l, r)) =>
        fold(syms, l, r)
      }
    val expected = rows.sortBy(_._1).map { case (id, t, nc) =>
      val ws = t.split(" ", -1)
      val ntok = ws.map(w => encodeWord(w).size.toLong).sum
      (id, ws.length.toLong, nc,
        ntok, if (ntok > 0) nc * 1000000L / ntok else 0L)
    }.toSeq
    val got = run("p_bpe_encode").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got === expected)
    // Compression really happened: fewer BPE tokens than characters.
    assert(got.map(_._4).sum < got.map(_._3).sum)
  }

  test("corpus kNN graph equals the Scala in-bucket top-3 model, with a " +
    "map-side WindowGroupLimit in the plan") {
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def plane(p: Int): Array[Double] =
      Array.tabulate(64)(i => md5h(s"${p}_$i", 8).toDouble / 2147483648.0 - 1.0)
    val planes = Array.tabulate(4)(plane)
    def dotF(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
      acc
    }
    def dotP(a: Array[Float], c: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i).toDouble * c(i); i += 1 }
      acc
    }
    val withB = vecs.map { case (id, x) =>
      (id, x, (0 until 4).map(p => if (dotP(x, planes(p)) >= 0) 1L << p else 0L).sum,
        math.sqrt(dotF(x, x)))
    }
    val expected = withB.sortBy(_._1).flatMap { case (aid, ax, ab, an) =>
      withB.filter(v => v._3 == ab && v._1 != aid)
        .map { case (bid, bx, _, bn) => (bid, dotF(ax, bx) / (an * bn)) }
        .sortBy { case (bid, c) => (-c, bid) }.take(3).zipWithIndex
        .map { case ((bid, c), i) =>
          (aid, bid, i + 1L, math.floor(c * 1e6).toLong) }
    }.toSeq
    val got = run("p_knn_graph").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got === expected)
    // The top-k is capped map-side before the window exchange.
    val plan = run("p_knn_graph").queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"))
  }

  test("BFD packing equals the Scala best-fit-decreasing model, respects " +
    "capacity, and leaves at most one half-empty bin per partition") {
    val cap = 512L
    val rows = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ", -1).length.toLong))
    val expected = rows
      .map { case (id, n) => (id, n, md5h(id.toString, 8) % 32) }
      .groupBy(_._3).toSeq.flatMap { case (part, ds) =>
        val fills = scala.collection.mutable.ArrayBuffer.empty[Long]
        ds.sortBy { case (id, n, _) => (-n, id) }.map { case (id, n, _) =>
          // Best fit: fullest bin that still takes n, ties to lowest id.
          val cands = fills.zipWithIndex
            .filter { case (f, _) => f + n <= cap }
          val bin =
            if (cands.isEmpty) { fills += n; fills.size - 1 }
            else {
              val (_, b) = cands.maxBy { case (f, b) => (f, -b) }
              fills(b) += n; b
            }
          (id, n, part, bin.toLong)
        }
      }.sortBy(_._1)
    val got = run("p_pack_bfd").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got === expected.toSeq)
    // Capacity respected for every multi-doc bin (singletons may be
    // oversized docs — splitting is chunking's job).
    val binFills = got.groupBy(g => (g._3, g._4))
      .map { case (k, ds) => (k, ds.map(_._2).sum, ds.size) }
    binFills.foreach { case (k, fill, nDocs) =>
      assert(nDocs == 1 || fill <= cap, s"bin $k overflows: $fill")
    }
    // The BFD guarantee: at most one bin at or under half capacity per
    // partition (two such bins would have been packed together).
    binFills.groupBy(_._1._1).foreach { case (part, bins) =>
      assert(bins.count(_._2 <= cap / 2) <= 1, s"part $part waste")
    }
  }

  test("content-defined chunking equals the Scala boundary model, covers " +
    "every word exactly once, and is insertion-stable") {
    val rows = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def chunksOf(t: String): Vector[Vector[String]] = {
      val (done, cur) = t.split(" ", -1).toVector
        .foldLeft((Vector.empty[Vector[String]], Vector.empty[String])) {
          case ((d, c), w) =>
            if (md5h(w, 8) % 8 == 0) (d :+ (c :+ w), Vector.empty)
            else (d, c :+ w)
        }
      if (cur.nonEmpty) done :+ cur else done
    }
    val expected = rows.sortBy(_._1).flatMap { case (id, t) =>
      chunksOf(t).zipWithIndex.map { case (c, i) =>
        (id, i.toLong, c.size.toLong, md5h(c.mkString(" "), 15))
      }
    }.toSeq
    val got = run("p_chunk_cdc").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got === expected)
    // Exact coverage: chunk word counts sum to each doc's word count.
    val byDoc = got.groupBy(_._1).view.mapValues(_.map(_._3).sum)
    rows.foreach { case (id, t) =>
      assert(byDoc.getOrElse(id, 0L) === t.split(" ", -1).length.toLong)
    }
    // The CDC property: prepending a sentence leaves every chunk after
    // the first boundary identical (fixed-stride chunking would shift
    // them all).
    val sample = rows.maxBy(_._2.length)._2
    val edited = "inserted preamble words " + sample
    val tail = chunksOf(sample).drop(1)
    assert(tail.nonEmpty && chunksOf(edited).containsSlice(tail))
  }

  test("curriculum ordering equals the Scala value-bucket model, stays " +
    "scan-local, and populates every phase") {
    val rows = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val expected = rows.sortBy(_._1).map { case (id, t) =>
      val chars = t.replace(" ", "").length.toLong
      val words = t.split(" ", -1).length.toLong
      val d = chars * 1000000L / words
      val phase =
        if (d < 4400000L) 0L else if (d < 4500000L) 1L
        else if (d < 4630000L) 2L else 3L
      (id, d, phase, md5h(s"$id:$t", 15))
    }.toSeq
    val got = run("p_curriculum_order").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got === expected)
    assert(got.map(_._3).toSet === Set(0L, 1L, 2L, 3L))
    val plan = run("p_curriculum_order").queryExecution.executedPlan.toString
    assert(!plan.contains("HashAggregate") && !plan.contains("Window") &&
      !plan.contains("Join"))
  }

  test("contrastive triplets equal the Scala hardest-positive/negative " +
    "model and include the near-zero margins that train a model") {
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Float](2).toArray))
    def plane(p: Int): Array[Double] =
      Array.tabulate(64)(i => md5h(s"${p}_$i", 8).toDouble / 2147483648.0 - 1.0)
    val planes = Array.tabulate(4)(plane)
    def dotF(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
      acc
    }
    def dotP(a: Array[Float], c: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i).toDouble * c(i); i += 1 }
      acc
    }
    val withB = vecs.map { case (id, l, x) =>
      (id, l, x,
        (0 until 4).map(p => if (dotP(x, planes(p)) >= 0) 1L << p else 0L).sum,
        math.sqrt(dotF(x, x)))
    }
    val expected = withB.sortBy(_._1).flatMap { case (aid, la, ax, ab, an) =>
      val cands = withB.filter(v => v._4 == ab && v._1 != aid)
        .map { case (bid, lb, bx, _, bn) =>
          (bid, lb, math.floor(dotF(ax, bx) / (an * bn) * 1e6).toLong) }
      def best(pred: Int => Boolean): Option[(Long, Long)] = {
        val c = cands.filter(v => pred(v._2))
        if (c.isEmpty) None
        else Some(c.maxBy { case (bid, _, cm) => (cm, -bid) })
          .map { case (bid, _, cm) => (bid, cm) }
      }
      for {
        (pid, pm) <- best(_ == la)
        (nid, nm) <- best(_ != la)
      } yield (aid, pid, pm, nid, nm, pm - nm)
    }.toSeq
    val got = run("p_contrastive_triplets").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got === expected)
    // The hard triplets exist: some margins are at or below zero (the
    // negative outranks the positive — exactly what the loss needs).
    assert(got.exists(_._6 <= 0L) && got.exists(_._6 > 0L))
  }

  test("IVFADC equals the Scala coarse-list + ADC model: candidates come " +
    "only from the probe's nprobe=2 clusters, scored by the PQ codes") {
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def pq(m: Int, j: Int): Array[Double] =
      Array.tabulate(8)(i => md5h(s"pq_${m}_${j}_$i", 8).toDouble / 2147483648.0 - 1.0)
    def cen(k: Int): Array[Double] =
      Array.tabulate(64)(i => md5h(s"${100 + k}_$i", 8).toDouble / 2147483648.0 - 1.0)
    def dotD(x: Array[Float], off: Int, c: Array[Double], n: Int): Double = {
      var acc = 0.0; var i = 0
      while (i < n) { acc += x(off + i).toDouble * c(i); i += 1 }
      acc
    }
    val ivfK = queries.PipelineQueries.IvfK // tracks GRAFT_IVF_K
    val clusterOf = vecs.map { case (id, x) =>
      id -> (0 until ivfK).maxBy(k => (dotD(x, 0, cen(k), 64), -k))
    }.toMap
    val norm2 = Array.tabulate(8, 16) { (m, j) =>
      val c = pq(m, j); var acc = 0.0; var i = 0
      while (i < 8) { acc += c(i) * c(i); i += 1 }
      acc
    }
    val codes = vecs.map { case (id, x) =>
      id -> Array.tabulate(8) { m =>
        (0 until 16).minBy(j => (norm2(m)(j) - 2.0 * dotD(x, m * 8, pq(m, j), 8), j))
      }
    }.toMap
    val expected = vecs.filter(_._1 < 20).sortBy(_._1).flatMap { case (qid, q) =>
      val probeLists = (0 until ivfK)
        .sortBy(k => (-dotD(q, 0, cen(k), 64), k)).take(2).toSet
      val lut = Array.tabulate(8, 16) { (m, j) =>
        math.floor(1000000.0 * dotD(q, m * 8, pq(m, j), 8)).toLong
      }
      vecs.filter { case (nid, _) =>
        nid != qid && probeLists.contains(clusterOf(nid))
      }.map { case (nid, _) =>
        (nid, (0 until 8).map(m => lut(m)(codes(nid)(m))).sum)
      }.sortBy { case (nid, adc) => (-adc, nid) }.take(3).zipWithIndex
        .map { case ((nid, adc), r) => (qid, nid, r + 1L, adc) }
    }.toSeq
    val got = run("p_ann_ivfpq").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got === expected)
    // The coarse restriction really bounds the work: every returned
    // neighbor sits in one of its query's two probe lists.
    got.foreach { case (qid, nid, _, _) =>
      val q = vecs.find(_._1 == qid).get._2
      val lists = (0 until ivfK).sortBy(k => (-dotD(q, 0, cen(k), 64), k)).take(2).toSet
      assert(lists.contains(clusterOf(nid)), s"query $qid neighbor $nid")
    }
  }

  test("source overlap matrix equals the Scala per-source shingle-set " +
    "Jaccard model and covers every source pair") {
    val rows = spark.read.parquet(s"$sf/documents.parquet")
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val setOf = rows.groupBy(_._1).map { case (src, ds) =>
      src -> ds.flatMap { case (_, t) =>
        val ws = t.split(" ", -1)
        (0 to ws.length - 3).map(i => s"${ws(i)} ${ws(i + 1)} ${ws(i + 2)}")
      }.toSet
    }
    val srcs = setOf.keys.toSeq.sorted
    val expected = (for {
      a <- srcs; b <- srcs if a < b
    } yield {
      val (sa, sb) = (setOf(a), setOf(b))
      val inter = (sa & sb).size.toLong
      val (na, nb) = (sa.size.toLong, sb.size.toLong)
      (a, b, inter, na, nb, inter * 1000000L / (na + nb - inter))
    }).sortBy(t => (t._1, t._2))
    val got = run("p_source_overlap").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got === expected)
    val n = srcs.length
    assert(got.length === n * (n - 1) / 2) // the full triangular matrix
  }

  test("temperature mixture weights equal the Scala sqrt-flatten model and " +
    "boost exactly the below-average sources") {
    val rows = spark.read.parquet(s"$sf/documents.parquet")
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1).split(" ", -1).length.toLong))
    val per = rows.groupBy(_._1).map { case (s, ds) => s -> ds.map(_._2).sum }
    val total = per.values.sum
    val shr = per.map { case (s, n) =>
      val share = n * 1000000L / total
      (s, n, share, math.floor(math.sqrt(share.toDouble * 1000000.0)).toLong)
    }.toSeq.sortBy(_._1)
    val rootTotal = shr.map(_._4).sum
    val expected = shr.map { case (s, n, share, root) =>
      val temp = root * 1000000L / rootTotal
      (s, n, share, temp, temp * 1000000L / share)
    }
    val got = run("p_mix_temperature").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got === expected)
    // T=2 flattens toward uniform: every below-average source is boosted
    // (temp share above its raw share), every above-average one damped.
    val uniform = 1000000L / got.length
    got.foreach { case (s, _, share, temp, _) =>
      if (share < uniform) assert(temp >= share, s"$s not boosted")
      if (share > uniform) assert(temp <= share, s"$s not damped")
    }
    // Normalization: temp shares sum to 1e6 up to per-source floor loss.
    val sumTemp = got.map(_._4).sum
    assert(sumTemp <= 1000000L && sumTemp > 1000000L - got.length)
  }

  test("topic tagging equals the Scala lexicon-count model with the " +
    "alphabetical tie-break and plans no aggregate or join") {
    val relational = Set("join", "filter", "agg", "sort", "scan", "merge", "group")
    val storage = Set("table", "key", "column", "row", "hash", "part")
    val streaming = Set("stream", "window", "batch", "spark")
    val rows = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val expected = rows.sortBy(_._1).map { case (id, t) =>
      val ws = t.split(" ", -1)
      val (nr, nsto, nstr) = (ws.count(relational), ws.count(storage),
        ws.count(streaming))
      val top =
        if (nr >= nsto && nr >= nstr) "relational"
        else if (nsto >= nstr) "storage"
        else "streaming"
      (id, nr.toLong, nsto.toLong, nstr.toLong, top)
    }.toSeq
    val got = run("p_topic_tag").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4))).toSeq
    assert(got === expected)
    // Lexicon matching is scan-resident work: no aggregate, no join, no
    // window — the only exchange is the output ORDER BY.
    val plan = run("p_topic_tag").queryExecution.executedPlan.toString
    assert(!plan.contains("HashAggregate") && !plan.contains("Join") &&
      !plan.contains("Window"))
  }

  test("event funnel equals the Scala first-occurrence-ordered model and " +
    "its stages shrink monotonically") {
    val ev = queries.TemporalQueries.eventsWithTs(spark, sf)
      .select("user_id", "event_type", "ts").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    def firstAtOrAfter(tpe: String, prev: Map[Long, Long]): Map[Long, Long] =
      ev.filter(e => e._2 == tpe && prev.contains(e._1) && e._3 >= prev(e._1))
        .groupBy(_._1).map { case (u, es) => u -> es.map(_._3).min }
    val v = ev.filter(_._2 == "view").groupBy(_._1)
      .map { case (u, es) => u -> es.map(_._3).min }
    val c = firstAtOrAfter("click", v)
    val p = firstAtOrAfter("purchase", c)
    val expected = Seq(
      (1L, "view", v.size.toLong), (2L, "click", c.size.toLong),
      (3L, "purchase", p.size.toLong))
      .map { case (no, nm, n) => (no, nm, n, n * 1000000L / v.size) }
    val got = run("q_events_funnel").collect()
      .map(r => (r.getInt(0).toLong, r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got === expected)
    // A funnel can only narrow.
    assert(got(0)._3 >= got(1)._3 && got(1)._3 >= got(2)._3)
    assert(got(0)._4 === 1000000L)
  }

  test("cohort retention equals the Scala first-day-cohort model; offset 0 " +
    "carries the whole cohort") {
    val ev = queries.TemporalQueries.eventsWithTs(spark, sf)
      .select("user_id", "ts").collect()
      .map(r => (r.getLong(0), r.getLong(1) / 86400000000000L))
    val cohort = ev.groupBy(_._1).map { case (u, es) => u -> es.map(_._2).min }
    val expected = ev.map { case (u, d) => (cohort(u), d - cohort(u), u) }
      .distinct.groupBy(t => (t._1, t._2))
      .map { case ((cd, off), us) => (cd, off, us.map(_._3).distinct.length.toLong) }
      .toSeq.sortBy(t => (t._1, t._2))
    val got = run("q_events_retention").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === expected)
    // Every user is active on their own cohort day, so offset 0 is the
    // cohort's full size and bounds every later offset's count.
    val byCohort = got.groupBy(_._1)
    byCohort.foreach { case (cd, rows) =>
      val day0 = rows.find(_._2 == 0L)
      assert(day0.isDefined, s"cohort $cd missing offset 0")
      rows.foreach(r => assert(r._3 <= day0.get._3))
    }
  }

  test("filter agreement matrix equals the Scala two-filter model and " +
    "reconciles with the single-filter queries") {
    val weights = Array.tabulate(64) { b =>
      (md5h(s"qw_$b", 8) % 2000001L) - 1000000L
    }
    case class D(id: Long, rule: Long, cls: Long, nWords: Long)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map { r =>
        val text = r.getString(1)
        val ws = text.split(" ", -1)
        val n = ws.length.toLong
        val chars = text.replace(" ", "").length.toLong
        val stop = ws.count(w => w == "the" || w == "a").toLong
        val top = ws.groupBy(identity).values.map(_.length).max.toLong
        val rule = n >= 50 && n <= 100000 && 3 * n <= chars &&
          chars <= 10 * n && stop >= 2 && 5 * top <= n
        val score = ws.map(w => weights((md5h(w, 8) % 64).toInt)).sum
        D(r.getLong(0), if (rule) 1L else 0L, if (score >= 0) 1L else 0L, n)
      }
    val total = docs.length.toLong
    val expected = docs.groupBy(d => (d.rule, d.cls)).toSeq
      .map { case ((rk, ck), ds) =>
        (rk, ck, ds.length.toLong, ds.map(_.nWords).sum,
          ds.length.toLong * 1000000L / total)
      }.sortBy(t => (t._1, t._2))
    val got = run("p_filter_agreement").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got === expected)
    // The matrix marginals must reconcile with the two single-filter
    // queries it composes (shared-expression parity, not coincidence).
    val ruleKeepN = run("p_quality_gopher").collect()
      .count(_.getAs[Long]("keep") == 1L).toLong
    val clsKeepN = run("p_quality_classifier").collect()
      .count(_.getAs[Long]("keep") == 1L).toLong
    assert(got.filter(_._1 == 1L).map(_._3).sum === ruleKeepN)
    assert(got.filter(_._2 == 1L).map(_._3).sum === clsKeepN)
    // Both filters disagree in both directions on this corpus — the
    // off-diagonal cells the report exists to surface are non-empty.
    assert(got.exists(t => t._1 == 1L && t._2 == 0L))
    assert(got.exists(t => t._1 == 0L && t._2 == 1L))
  }

  test("PMI collocations equal the Scala exact-rational model and plan a " +
    "partial top-k, not a global sort") {
    val texts = spark.read.parquet(s"$sf/documents.parquet")
      .select("text").collect().map(_.getString(0))
    val uni = scala.collection.mutable.Map.empty[String, Long]
    val bi = scala.collection.mutable.Map.empty[String, Long]
    texts.foreach { t =>
      val ws = t.split(" ", -1)
      ws.foreach(w => uni(w) = uni.getOrElse(w, 0L) + 1L)
      ws.sliding(2).filter(_.length == 2)
        .foreach { p => val k = p.mkString(" "); bi(k) = bi.getOrElse(k, 0L) + 1L }
    }
    val nw = BigInt(uni.values.sum)
    val nb = BigInt(bi.values.sum)
    val expected = bi.toSeq
      .filter(_._2 >= 5L)
      .map { case (bg, cxy) =>
        val Array(x, y) = bg.split(" ", 2)
        val lift = (BigInt(cxy) * nw * nw * 1000000) /
          (nb * BigInt(uni(x)) * BigInt(uni(y)))
        (bg, cxy, uni(x), uni(y), lift.toLong)
      }
      .sortBy(t => (-t._5, t._1)).take(20)
    val got = run("p_pmi_collocations").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got === expected)
    // Top-k must plan as partial heaps (TakeOrderedAndProject), never a
    // corpus-wide Sort — the 100 TB posture the Scaladoc claims.
    val plan = run("p_pmi_collocations").queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"))
  }

  test("fuzzy edit-distance dedup equals the Scala blocked-Levenshtein " +
    "model and catches every exact duplicate at distance 0") {
    def lev(a: String, b: String): Int = {
      val dp = Array.tabulate(b.length + 1)(identity)
      for (i <- 1 to a.length) {
        var prev = dp(0); dp(0) = i
        for (j <- 1 to b.length) {
          val cur = dp(j)
          dp(j) = math.min(math.min(dp(j) + 1, dp(j - 1) + 1),
            prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
          prev = cur
        }
      }
      dp(b.length)
    }
    val corpus = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val blocked = corpus.map { case (id, t) =>
      val wbucket = t.split(" ", -1).length / 10
      (id, (wbucket, t.take(8)), t.take(80))
    }
    val expected = blocked.groupBy(_._2).values.toSeq.flatMap { grp =>
      val g = grp.toSeq
      for {
        x <- g; y <- g if x._1 < y._1
        d = lev(x._3, y._3) if d <= 12
      } yield (x._1, y._1, d.toLong)
    }.sortBy(t => (t._1, t._2))
    val got = run("p_dedup_fuzzy").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === expected)
    // Seeded corpus pinning the operator's contract cases: an exact dup
    // (distance 0 — fuzzy subsumes exact dedup), a mid-text typo (small
    // distance, caught), and a first-word edit (escapes the 8-char prefix
    // block — the stated blocking trade, same epistemic status as LSH).
    val base = ("alpha beta gamma " * 10).trim
    val typo = base.updated(20, 'X')
    val tmp = java.nio.file.Files.createTempDirectory("fuzzy").toString
    import spark.implicits._
    Seq((1L, base), (2L, base), (3L, typo), (4L, "OMEGA " + base))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val seeded = SparkEntry.queries("p_dedup_fuzzy")(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val typoDist = lev(base.take(80), typo.take(80)).toLong
    assert(typoDist === 1L)
    assert(seeded === Seq((1L, 2L, 0L), (1L, 3L, 1L), (2L, 3L, 1L)))
  }

  test("vocabulary growth equals the Scala per-source type/token/hapax model") {
    val rows = spark.read.parquet(s"$sf/documents.parquet")
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val expected = rows.groupBy(_._1).toSeq.map { case (src, ds) =>
      val counts = scala.collection.mutable.Map.empty[String, Long]
      ds.foreach(_._2.split(" ", -1)
        .foreach(w => counts(w) = counts.getOrElse(w, 0L) + 1L))
      val tokens = counts.values.sum
      val types = counts.size.toLong
      val hapax = counts.valuesIterator.count(_ == 1L).toLong
      (src, tokens, types, hapax,
        types * 1000000L / tokens, hapax * 1000000L / types)
    }.sortBy(_._1)
    val got = run("p_vocab_growth").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got === expected)
    // Sanity of the growth law the cost claims lean on: per source,
    // hapax ⊆ types ⊊ tokens (the synthetic corpus's closed vocabulary
    // legitimately has zero hapax at small sf — the real-corpus 40–60%
    // hapax share is exactly what this report measures, not assumes).
    got.foreach { t =>
      assert(t._4 <= t._3 && t._3 < t._2, s"degenerate: $t")
    }
  }

  test("length bucketing equals the Scala power-of-two batching model, " +
    "with no join in the plan") {
    val ntoks = spark.read.parquet(s"$sf/documents.parquet")
      .select("text").collect()
      .map(r => r.getString(0).split(" ", -1).length.toLong)
    def bucketOf(n: Long): Long =
      Seq(16L, 32L, 64L, 128L, 256L, 512L, 1024L, 2048L)
        .find(n <= _).getOrElse(4096L)
    val expected = ntoks.groupBy(bucketOf).toSeq.map { case (b, ns) =>
      val nDocs = ns.length.toLong
      val sumTok = ns.sum
      val padded = nDocs * b
      val rpb = 8192L / b
      (b, nDocs, sumTok, padded, (padded - sumTok) * 1000000L / padded,
        (nDocs + rpb - 1) / rpb)
    }.sortBy(_._1)
    val got = run("p_len_bucket").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got === expected)
    // Scan-local bucketing + one aggregation: no join anywhere.
    assert(!run("p_len_bucket").queryExecution.executedPlan.toString
      .contains("Join"))
  }

  test("hybrid retrieval equals the Scala RRF model over the lexical and " +
    "vector top-20 lists") {
    val corpus = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0),
        r.getString(1).split(" ", -1).sliding(3).map(_.mkString(" ")).toSet))
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def dotF(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
      acc
    }
    val norms = vecs.map { case (id, x) => id -> math.sqrt(dotF(x, x)) }.toMap
    val byId = vecs.toMap
    val queryIds = corpus.map(_._1).filter(_ < 10).sorted
    val expected = queryIds.flatMap { q =>
      val qsh = corpus.find(_._1 == q).get._2
      val lex = corpus.filter(d => d._1 != q)
        .map { case (id, sh) => (id, (sh & qsh).size.toLong) }
        .filter(_._2 > 0)
        .sortBy { case (id, ov) => (-ov, id) }.take(20).zipWithIndex
        .map { case ((id, _), i) => id -> (i + 1L) }.toMap
      val vq = byId(q)
      val vec = vecs.filter(_._1 != q)
        .map { case (id, x) => (id, dotF(vq, x) / (norms(q) * norms(id))) }
        .sortBy { case (id, c) => (-c, id) }.take(20).zipWithIndex
        .map { case ((id, _), i) => id -> (i + 1L) }.toMap
      (lex.keySet ++ vec.keySet).toSeq.map { id =>
        val score = lex.get(id).map(r => 1000000000L / (60L + r)).getOrElse(0L) +
          vec.get(id).map(r => 1000000000L / (60L + r)).getOrElse(0L)
        (id, lex.getOrElse(id, 0L), vec.getOrElse(id, 0L), score)
      }.sortBy { case (id, _, _, s) => (-s, id) }.take(5).zipWithIndex
        .map { case ((id, lr, vr, s), i) => (q, id, lr, vr, s, i + 1L) }
    }.toSeq
    val got = run("p_retrieve_hybrid").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got === expected)
    // A doc retrieved by both arms outranks a same-rank single-arm doc:
    // every rank-1 fused result here was retrieved by at least one arm.
    assert(got.forall { case (_, _, lr, vr, s, _) =>
      (lr > 0 || vr > 0) && s > 0 })
  }

  test("kNN-graph PageRank equals the Scala integer-arithmetic model") {
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def plane(p: Int): Array[Double] =
      Array.tabulate(64)(i => md5h(s"${p}_$i", 8).toDouble / 2147483648.0 - 1.0)
    val planes = Array.tabulate(4)(plane)
    def dotF(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
      acc
    }
    def dotP(a: Array[Float], c: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i).toDouble * c(i); i += 1 }
      acc
    }
    val withB = vecs.map { case (id, x) =>
      (id, x, (0 until 4).map(p => if (dotP(x, planes(p)) >= 0) 1L << p else 0L).sum,
        math.sqrt(dotF(x, x)))
    }
    val edges = withB.flatMap { case (aid, ax, ab, an) =>
      withB.filter(v => v._3 == ab && v._1 != aid)
        .map { case (bid, bx, _, bn) => (bid, dotF(ax, bx) / (an * bn)) }
        .sortBy { case (bid, c) => (-c, bid) }.take(3)
        .map { case (bid, _) => (aid, bid) }
    }
    val outdeg = edges.groupBy(_._1).map { case (s2, es) => s2 -> es.length.toLong }
    val indeg = edges.groupBy(_._2).map { case (d, es) => d -> es.length.toLong }
    var scores = vecs.map(_._1 -> 1000000000L).toMap
    for (_ <- 1 to 3) {
      val inflow = scores.keys.map(_ -> 0L).toMap ++
        edges.groupBy(_._2).map { case (d, es) =>
          d -> es.map { case (s2, _) => scores(s2) / outdeg(s2) }.sum
        }
      scores = scores.keys
        .map(n => n -> (150000000L + 85L * inflow(n) / 100L)).toMap
    }
    val expected = scores.toSeq
      .map { case (id, s2) => (id, s2, indeg.getOrElse(id, 0L)) }
      .sortBy { case (id, s2, _) => (-s2, id) }.take(30)
    val got = run("p_graph_pagerank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === expected)
    // Every node keeps at least the teleport mass, and the top node is
    // genuinely in-linked (centrality came from the graph, not the base).
    assert(got.forall(_._2 >= 150000000L))
    assert(got.head._3 > 0)
  }

  test("round-11 curation reports keep their claimed plan shapes: weighted " +
    "sampling caps per-source output map-side; fertility and calibration " +
    "plan no joins") {
    // Priority sampling: the rank<=25 filter over the per-source window
    // must plan as WindowGroupLimit (local top-k BEFORE the exchange).
    val sw = run("p_sample_weighted").queryExecution.executedPlan.toString
    assert(sw.contains("WindowGroupLimit"), "weighted sampling lost its map-side cap")
    // Fertility: one scan-local pass + one aggregate — no join anywhere.
    val tf = run("p_tokenizer_fertility").queryExecution.executedPlan.toString
    assert(!tf.contains("Join"), "fertility must not join")
    // Calibration: the two verdicts compute side by side on one pass —
    // no join between the filters.
    val cc = run("p_cls_calibration").queryExecution.executedPlan.toString
    assert(!cc.contains("Join"), "calibration must not join the two filters")
  }

  test("parquetRowCount counts again after the files under a path change") {
    import spark.implicits._
    val path = s"${tmpDir("rowcount")}/t.parquet"
    (1 to 3).toDF("x").write.parquet(path)
    assert(graft.queries.PipelineQueries.parquetRowCount(spark, path) === 3L)
    (1 to 5).toDF("x").write.mode("overwrite").parquet(path)
    assert(graft.queries.PipelineQueries.parquetRowCount(spark, path) === 5L)
  }
}
