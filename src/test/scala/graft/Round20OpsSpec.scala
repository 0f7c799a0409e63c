package graft

import org.apache.spark.sql.functions._
import graft.queries.{DedupQueries, MultimodalQueries, TextQueries}

/** Independent references for the round-20 work: the size-gated
  * hot-band-key occupancy cap on the text LSH band self-joins
  * (VERDICT r19 #1) and its recall audit, exercised on corpora built
  * to be DEGENERATE (one band key shared by a whole block — the
  * empty-shingle-set / identical-boilerplate class that grows the
  * uncapped join quadratically).
  */
class Round20OpsSpec extends SparkSpecBase {

  import spark.implicits._

  /** Synthetic band frame: `degN` docs (ids 0..degN-1) all sharing the
    * SAME key on every band (the md5("") empty-shingle shape), one
    * genuine twin pair (100000, 100001) agreeing on its own unique key
    * per band, and a singleton (200000) with unique keys.
    */
  private def degenerateBands(degN: Int) = {
    val deg = spark.range(degN.toLong)
      .select(col("id").as("doc_id"), explode(expr("sequence(0, 3)")).as("band"),
        lit("deg").as("bkey"))
    val twins = Seq(100000L, 100001L).toDF("doc_id")
      .select(col("doc_id"), explode(expr("sequence(0, 3)")).as("band"))
      .withColumn("bkey", concat(lit("twin"), col("band")))
    val lone = Seq(200000L).toDF("doc_id")
      .select(col("doc_id"), explode(expr("sequence(0, 3)")).as("band"))
      .withColumn("bkey", concat(lit("lone"), col("band")))
    deg.unionByName(twins).unionByName(lone)
  }

  test("degenerate block (shared band key) is dropped by the forced cap; " +
    "true twin pair survives; capped candidates are a subset of plain") {
    val bands = degenerateBands(degN = 250)
    val capped = DedupQueries.bandSelfJoinCands(spark, bands,
      Seq("band", "bkey"), 0L, MultimodalQueries.CapForced(25L))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped === Set((100000L, 100001L)),
      "capped candidates must be exactly the twin pair")
    val plain = DedupQueries.bandSelfJoinCands(spark, bands,
      Seq("band", "bkey"), 0L, MultimodalQueries.CapOff)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(plain.size === 250 * 249 / 2 + 1,
      "uncapped join is quadratic in the degenerate block")
    assert(capped.subsetOf(plain))
    // a cap above the block's occupancy drops nothing
    val loose = DedupQueries.bandSelfJoinCands(spark, bands,
      Seq("band", "bkey"), 0L, MultimodalQueries.CapForced(250L))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(loose === plain)
  }

  test("simhash-shaped (bigint band value) keys take the same capped route") {
    // identical docs → identical 4 band words; block of 40 at bv=7
    val deg = spark.range(40L)
      .select(col("id").as("doc_id"), explode(expr("sequence(0, 3)")).as("band"),
        lit(7L).as("bv"))
    val twins = Seq(500L, 501L).toDF("doc_id")
      .select(col("doc_id"), explode(expr("sequence(0, 3)")).as("band"))
      .withColumn("bv", col("band") + 1000L)
    val bands = deg.unionByName(twins)
    val capped = DedupQueries.bandSelfJoinCands(spark, bands,
      Seq("band", "bv"), 0L, MultimodalQueries.CapForced(10L))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped === Set((500L, 501L)))
  }

  test("CapAuto honors the size gate, the default production cap, and the " +
    "spark.graft.textband.cap conf override") {
    val bands = degenerateBands(degN = 250)
    val plain = DedupQueries.bandSelfJoinCands(spark, bands,
      Seq("band", "bkey"), 0L, MultimodalQueries.CapOff)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // below the gate: plain plan, answers identical
    val below = DedupQueries.bandSelfJoinCands(spark, bands,
      Seq("band", "bkey"), gateRows = 40000L, MultimodalQueries.CapAuto)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(below === plain)
    // above the gate: default cap 200 < block occupancy 250 → block drops
    val above = DedupQueries.bandSelfJoinCands(spark, bands,
      Seq("band", "bkey"), gateRows = 40001L, MultimodalQueries.CapAuto)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(above === Set((100000L, 100001L)))
    // conf override wins regardless of the gate count
    withConf("spark.graft.textband.cap" -> "25") {
      val conf = DedupQueries.bandSelfJoinCands(spark, bands,
        Seq("band", "bkey"), gateRows = 0L, MultimodalQueries.CapAuto)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(conf === Set((100000L, 100001L)))
    }
  }

  test("q_stream_index_delta drains to exactly the batch MAIN+DELTA " +
    "serving result (VERDICT r19 #2 — batch ≡ stream for index serving)") {
    val stream = TextQueries.queries("q_stream_index_delta")(spark, sf)
      .collect().map(_.toString).toSet
    graft.queries.QueryCaches.releaseAll(spark)
    val batch = TextQueries.queries("q_index_incremental")(spark, sf)
      .collect().map(_.toString).toSet
    graft.queries.QueryCaches.releaseAll(spark)
    assert(stream.nonEmpty, "probe returned no rows — vacuous")
    assert(stream === batch,
      "streamed delta segments did not serve the batch result verbatim")
  }

  test("stream-cluster compaction fires at the NATURAL default cadence " +
    "(compact_every=32) on a >32-batch drain and leaves the answer " +
    "unchanged (VERDICT r19 #4)") {
    // 36 interleaved chunks (id mod 36) → 36 micro-batches: the r19
    // suite only ever forced compact_every=2 on the 6-chunk fixture,
    // so the DEFAULT cadence had never actually fired
    withConf("spark.graft.streamcluster.probe" -> "true") {
      val (assign36, probe36) =
        DedupQueries.streamClusterDrain(spark, sf, chunks = 36)
      val a36 = assign36.collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(probe36.size == 36, s"expected 36 batches, got ${probe36.size}")
      // per-chunk arrival deltas in batch order (chunk order is
      // mtime-enforced by clusterNodeTree)
      val deltas = spark.read.parquet(s"$sf/customer.parquet")
        .select((col("c_custkey") % 36).as("b")).groupBy("b").count()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val expected = probe36.indices.map { k =>
        val d = deltas.getOrElse(k.toLong, 0L)
        // sinceCompact reaches 32 on the 32nd batch (index 31): that
        // batch checkpoints the cumulative state (sum of deltas so
        // far) on top of its own arrival delta — and ONLY that batch
        if (k == 31) d + (0 to 31).map(x => deltas.getOrElse(x.toLong, 0L)).sum
        else d
      }.toVector
      assert(probe36.map(_.ckptRows) == expected,
        s"natural-cadence schedule ${probe36.map(_.ckptRows)} != $expected")
      // answer-neutrality vs the gated 6-chunk drain
      val (assign6, _) = DedupQueries.streamClusterDrain(spark, sf)
      val a6 = assign6.collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(a36 == a6,
        "chunk cadence (and its compaction) changed the drained clusters")
    }
  }

  test("q_remap_serve: the bucketed rewrite join is exchange-free — the " +
    "only shuffles are the downstream re-aggregate and the presentation " +
    "sort (VERDICT r19 #7)") {
    val df = DedupQueries.queries("q_remap_serve")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    graft.queries.QueryCaches.releaseAll(spark)
    assert(p.contains("SortMergeJoin"), "rewrite join must stay SMJ")
    // exactly 1 hash exchange in the whole plan = the canonical_id
    // re-aggregate; zero under the join itself (the bucketed layout IS
    // the shuffle). The presentation sort is a range exchange.
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashEx == 1,
      s"expected exactly 1 hash exchange (the canonical_id re-aggregate), " +
        s"got $hashEx:\n$p")
  }

  test("end-to-end recall audit: a biting cap drops exactly the planted " +
    "empty-shingle block's quadratic candidates with zero recall loss") {
    // k = docs in the audit corpus with an EMPTY shingle set (the +3e6
    // planted block plus any organically short text), recomputed from
    // data so the assertion tracks the corpus construction
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val audit = docs.filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"), col("text"))
      .unionByName(docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(col("text"), lit(" zzz tail")).as("text")))
      .unionByName(docs
        .filter(col("doc_id") % 7 === 0 && col("doc_id") < 1000000L)
        .select((col("doc_id") + 3000000L).as("doc_id"), lit("xx").as("text")))
    val k = audit
      .filter(size(graft.text.Corpus.shingles("text")) === 0).count()
    assert(k >= 11, "fixture must plant a degenerate block above the cap")
    // capAt 10 sits between the measured organic max occupancy (4 at
    // sf0.001 — a lower cap DOES cost recall here, measured 9000‰ at
    // cap 3) and the planted block size, so exactly the block drops
    val row = DedupQueries.textBandRecall(spark, sf, capAt = 10L).collect()(0)
    val (nTrue, nFound) = (row.getLong(0), row.getLong(1))
    val (recall, candPlain, candCapped) =
      (row.getLong(2), row.getLong(3), row.getLong(4))
    assert(recall === 10000L && nFound === nTrue,
      "planted twins share non-hot keys — the cap must not cost recall here")
    assert(candPlain - candCapped === k * (k - 1) / 2,
      "the cap must drop exactly the degenerate block's pair volume")
  }

  test("local writes carry no .crc sidecars: sink writers use the raw " +
    "local filesystem and the session's cached local FS has checksum " +
    "writes disabled (S3Sink.disableLocalWriteChecksums)") {
    import org.apache.spark.sql.functions._
    val out = java.nio.file.Files.createTempDirectory("graft_nocrc_").toString
    // Spark's own writer path (parquet part files + _SUCCESS)
    spark.range(100).select(col("id")).coalesce(2)
      .write.mode("overwrite").parquet(s"$out/t.parquet")
    // the sink writer path (Hadoop FS API via fileSystemFor)
    val fs = graft.sinks.S3Sink.fileSystemFor(
      s"$out/z", graft.sinks.S3Sink.fsConfEntries(spark))
    val o = fs.create(new org.apache.hadoop.fs.Path(s"$out/z/a.txt"), true)
    try o.write("x".getBytes("UTF-8")) finally o.close()
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(out))
    val found = try {
      val it = walk.iterator()
        .asInstanceOf[java.util.Iterator[java.nio.file.Path]]
      var acc = List.empty[String]
      while (it.hasNext) {
        val p = it.next()
        if (p.getFileName.toString.endsWith(".crc")) acc ::= p.toString
      }
      acc
    } finally walk.close() // leaks a dir handle otherwise (rmTree note)
    assert(found.isEmpty, s"unexpected .crc sidecars: $found")
    // and the data still reads back through the standard session path
    assert(spark.read.parquet(s"$out/t.parquet").count() === 100L)
  }

  test("q_random_projection: the vec_idot kernel shape is row-identical " +
    "to the original nested-HOF shape (same exact int64 projection)") {
    val idot = SparkEntry.queries("q_random_projection")(spark, sf).collect().toSeq
    assert(idot.nonEmpty, "fixture must produce audit pairs")
    // the original shape, as the reference: the quantize transform
    // inlined in a nested transform/aggregate projection over the same
    // embeddings and sign matrix, and zip_with/aggregate distances
    val signArr = s"array(${graft.queries.SimilarityQueries.rpSigns.mkString(",")})"
    val qx = "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1024.0) AS BIGINT))"
    def side(m: Int, idc: String, qc: String, pc: String) =
      spark.read.parquet(s"$sf/embeddings.parquet").filter(col("vec_id") % 50 === m)
        .select(col("vec_id").as(idc), expr(qx).as(qc), expr(
          s"""transform(sequence(1, 16), j ->
             |  aggregate(sequence(1, 64), CAST(0 AS BIGINT),
             |    (acc, i) -> acc + element_at($qx, i) *
             |                element_at($signArr, (i - 1) * 16 + j)))"""
            .stripMargin).as(pc))
    def d2(x: String, y: String) = expr(
      s"aggregate(zip_with($x, $y, (u, v) -> (u - v) * (u - v)), " +
        "CAST(0 AS BIGINT), (acc, e) -> acc + e)")
    val hof = side(0, "a_id", "qa", "pa")
      .join(side(1, "b_id", "qb", "pb"), col("b_id") === col("a_id") + 1)
      .select(col("a_id"), col("b_id"),
        d2("qa", "qb").as("d2_orig"),
        d2("pa", "pb").as("d2_proj"))
      .withColumn("ratio_pm", expr("d2_proj * 10000 div nullif(16 * d2_orig, 0)"))
      .orderBy("a_id")
    assert(hof.collect().toSeq === idot)
  }
}
