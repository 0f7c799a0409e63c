package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.geo.Transform
import graft.plans.{GraftExtensions, NztmToWgs84}

class NativeExprSpec extends AnyFunSuite {

  // Separate session exercising withExtensions(new GraftExtensions).
  // getOrCreate would silently REUSE another suite's session and drop
  // the extensions, so the default/active session is cleared first
  // (the new session still shares the JVM's SparkContext) and restored
  // after construction. Suites run sequentially in the forked JVM.
  lazy val spark: SparkSession = {
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    val s = SparkSession.builder()
      .master("local[2]")
      .appName("graft-ext-test")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    prevDefault.foreach(SparkSession.setDefaultSession)
    prevActive.foreach(SparkSession.setActiveSession)
    s
  }

  test("nztm_to_wgs84 is available in SQL via session extensions") {
    val r = spark.sql(
      "SELECT nztm_to_wgs84(1600000.0D, 10000000.0D) AS ll").head()
    val ll = r.getStruct(0)
    // projection origin: (FE, FN) → (0°, 173°E)
    assert(math.abs(ll.getDouble(0) - 0.0) < 1e-9)
    assert(math.abs(ll.getDouble(1) - 173.0) < 1e-9)
  }

  test("plans kernels register once per session: repeat query builds " +
    "keep the first builder, injected ones included") {
    val s = spark.newSession()
    val registry = s.sessionState.functionRegistry
    def builder(name: String) =
      registry.lookupFunctionBuilder(org.apache.spark.sql.catalyst.FunctionIdentifier(name)).get
    graft.plans.NativeBloom.register(s)
    val bloom = builder("might_contain")
    val vecDot = builder("vec_dot") // injected by GraftExtensions
    graft.plans.NativeBloom.register(s)
    graft.plans.VecKernels.register(s)
    assert(builder("might_contain") eq bloom)
    assert(builder("vec_dot") eq vecDot)
  }

  test("expression matches the Scala kernel across a coordinate grid") {
    import spark.implicits._
    val pts = (for {
      ei <- 0 to 5; ni <- 0 to 5
    } yield (1200000.0 + ei * 150000.0, 4800000.0 + ni * 250000.0))
      .toDF("e", "n")
    NztmToWgs84.register(spark)
    val rows = pts.select(col("e"), col("n"), expr("nztm_to_wgs84(e, n)").as("ll"))
      .collect()
    rows.foreach { r =>
      val (lat, lon) = Transform.inverse(r.getDouble(0), r.getDouble(1))
      val ll = r.getStruct(2)
      assert(ll.getDouble(0) == lat && ll.getDouble(1) == lon)
    }
  }

  test("expression evaluates inside whole-stage codegen") {
    // a local Seq collapses to LocalTableScan (ConvertToLocalRelation
    // pre-evaluates the expression — itself proof of interpreted eval);
    // a parquet-backed plan shows the real codegen placement
    val df = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
      .selectExpr(
        "nztm_to_wgs84(1600000.0D + n_nationkey * 1000.0D, 5000000.0D + n_nationkey * 1000.0D) AS ll")
    // "*(1) Project [...]" — the asterisk marks a WholeStageCodegen
    // stage in simpleString; the expression sits inside it, not in a
    // fallback Project
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [nztm_to_wgs84"), s"plan:\n$plan")
    assert(df.count() == 25)
    val ll = df.head().getStruct(0)
    val (lat, lon) = Transform.inverse(1600000.0, 5000000.0)
    assert(ll.getDouble(0) == lat && ll.getDouble(1) == lon)
  }

  test("null inputs yield null output (nullSafeEval path)") {
    val r = spark.sql("SELECT nztm_to_wgs84(CAST(NULL AS DOUBLE), 5000000.0D) AS ll").head()
    assert(r.isNullAt(0))
  }

  test("vec_dot / vec_bucket: SQL-available, codegen'd, kernel-equal") {
    val df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .selectExpr("vec_id", "vec_dot(embedding, embedding) AS d",
        "vec_bucket(embedding) AS b")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), s"should codegen:\n$plan")
    assert(plan.contains("vec_dot") && plan.contains("vec_bucket"), s"plan:\n$plan")
    val rows = df.orderBy("vec_id").limit(5).collect()
    val raw = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .orderBy("vec_id").limit(5).collect()
    rows.zip(raw).foreach { case (r, o) =>
      val e = o.getAs[collection.Seq[Float]]("embedding")
      val expected = e.foldLeft(0.0)((acc, x) => acc + x.toDouble * x.toDouble)
      assert(r.getAs[Double]("d") == expected)
      var bucket = 0L
      for (j <- 0 until 8) {
        var s = 0.0
        for (d <- 0 until 64)
          s += (if (((j * 64 + d) * 37) % 97 < 48) 1.0 else -1.0) * e(d).toDouble
        if (s > 0) bucket |= (1L << j)
      }
      assert(r.getAs[Long]("b") == bucket)
    }
  }

  test("vec_bands: SQL-available, codegen'd, kernel-equal, extends vec_bucket") {
    val df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .selectExpr("vec_id", "vec_bands(embedding) AS bands",
        "vec_bucket(embedding) AS b")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), s"should codegen:\n$plan")
    assert(plan.contains("vec_bands"), s"plan:\n$plan")
    val rows = df.orderBy("vec_id").limit(5).collect()
    val raw = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .orderBy("vec_id").limit(5).collect()
    rows.zip(raw).foreach { case (r, o) =>
      val e = o.getAs[collection.Seq[Float]]("embedding")
      val bands = r.getAs[collection.Seq[Long]]("bands")
      assert(bands.length == 4)
      // reference computation: hyperplane h's sign bit lands in band
      // h/16 at bit h%16
      val expected = Array.fill(4)(0L)
      for (h <- 0 until 64) {
        var s = 0.0
        for (d <- 0 until 64)
          s += (if (((h * 64 + d) * 37) % 97 < 48) 1.0 else -1.0) * e(d).toDouble
        if (s > 0) expected(h >> 4) |= (1L << (h & 15))
      }
      assert(bands == expected.toSeq)
      // the first 8 hyperplanes are the same weight family vec_bucket
      // uses, so band 0's low byte must equal the 8-bit bucket
      assert((bands(0) & 0xffL) == r.getAs[Long]("b"))
    }
  }

  test("vec_idot: SQL-available, codegen'd, exact integer dot") {
    // literal arrays constant-fold away; a column input keeps the
    // expression in the executed plan
    val df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .selectExpr("vec_id",
        "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 100) AS BIGINT)) AS qv")
      .selectExpr("vec_id", "qv", "vec_idot(qv, qv) AS d")
    val plan = df.queryExecution.executedPlan.toString
    // the interpreted HOF transform below splits the codegen stages, so
    // vec_idot lands in span *(2) — pin that its Project IS codegen'd
    assert(plan.linesIterator.exists(l =>
      l.contains("vec_idot") && l.trim.startsWith("*(")),
      s"vec_idot must run inside a WholeStageCodegen project:\n$plan")
    val rows = df.orderBy("vec_id").limit(5).collect()
    rows.foreach { r =>
      val qv = r.getAs[collection.Seq[Long]]("qv")
      assert(r.getAs[Long]("d") == qv.map(x => x * x).sum)
    }
  }

  test("vec_idot rejects non-long-array inputs at analysis") {
    val e = intercept[Exception] {
      spark.sql("SELECT vec_idot(array(1.0, 2.0), array(3.0, 4.0))").head()
    }
    assert(e.getMessage.contains("vec_idot") || e.getMessage.contains("DATATYPE"),
      e.getMessage)
  }

  test("fingerprint_set: SQL-available, codegen'd, kernel-equal") {
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .selectExpr("doc_id", "text", "fingerprint_set(text) AS fp")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), s"should codegen:\n$plan")
    assert(plan.contains("fingerprint_set"), s"plan:\n$plan")
    val rows = df.orderBy("doc_id").limit(5).collect()
    rows.foreach { r =>
      val expected = graft.plans.TextOps.fingerprints(r.getAs[String]("text"))
        .map(_.toLong).toSeq
      assert(r.getAs[collection.Seq[Long]]("fp") == expected)
    }
  }

  test("fingerprint_set rejects non-string input at analysis") {
    val e = intercept[Exception] {
      spark.sql("SELECT fingerprint_set(42)").head()
    }
    assert(e.getMessage.contains("fingerprint_set") || e.getMessage.contains("DATATYPE"),
      e.getMessage)
  }

  test("minhash_bands: SQL-available, codegen'd, bit-identical to the legacy UDF") {
    import spark.implicits._
    // real corpus shingles + edge shapes (empty array, one shingle,
    // duplicate shingles, non-ASCII) — both paths must agree byte-for-byte
    val edge = Seq(
      (9000001L, Seq.empty[String]),
      (9000002L, Seq("solo")),
      (9000003L, Seq("a b c", "a b c", "b c d")),
      (9000004L, Seq("tūī kākā", "mäori", "日本語 テスト")),
      // a null ELEMENT must hash identically on both paths (the legacy
      // UDF's string concat stringifies it as "null")
      (9000005L, Seq("a b c", null, "b c d"))
    ).toDF("doc_id", "sh")
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .limit(20)
      .select(col("doc_id"), graft.text.Corpus.shingles("text").as("sh"))
    val df = corpus.unionByName(edge)
      .select(col("doc_id"),
        expr("minhash_bands(sh)").as("native"),
        graft.queries.DedupQueries.minhashBandsUdf(col("sh")).as("legacy"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("minhash_bands"), s"plan:\n$plan")
    val rows = df.collect()
    assert(rows.length == 25)
    rows.foreach { r =>
      assert(r.getAs[collection.Seq[String]]("native") ==
        r.getAs[collection.Seq[String]]("legacy"), s"doc ${r.getLong(0)}")
    }
  }

  test("minhash_bands: a NULL input array yields NULL (legacy UDF would NPE)") {
    import spark.implicits._
    // the documented edge of the bit-identical claim (scaladoc): null
    // ELEMENTS match the UDF byte-for-byte, a null ARRAY does not —
    // the native expression is null-safe while the ScalaUDF crashes.
    // This pin records the DELIBERATE divergence so an A/B consumer
    // with a nullable array column isn't surprised.
    val df = Seq((1L, Some(Seq("a b c"))), (2L, None))
      .toDF("doc_id", "sh")
      .select(col("doc_id"), expr("minhash_bands(sh)").as("bands"))
    val rows = df.orderBy("doc_id").collect()
    assert(rows(0).getAs[collection.Seq[String]]("bands").length == 4)
    assert(rows(1).isNullAt(1),
      "null array must map to null output, not crash or empty bands")
  }

  test("minhash_bands rejects non-array input at analysis") {
    val e = intercept[Exception] {
      spark.sql("SELECT minhash_bands('x')").head()
    }
    assert(e.getMessage.contains("minhash_bands") || e.getMessage.contains("DATATYPE"),
      e.getMessage)
  }

  test("vec_dot rejects non-float-array inputs at analysis") {
    val e = intercept[Exception] {
      spark.sql("SELECT vec_dot(array(1, 2), array(3, 4))").head()
    }
    assert(e.getMessage.contains("vec_dot") || e.getMessage.contains("DATATYPE"),
      e.getMessage)
  }
}
