package graft

import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.operators.AnnotationPipeline

class ExtensionsSpec extends SparkSuite {
  import spark.implicits._

  test("graft_* SQL functions register and evaluate (SparkSessionExtensions surface)") {
    GraftExtensions.register(spark)
    val cos = spark.sql(
      "SELECT graft_cosine(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS c").as[Double].head()
    assert(math.abs(cos - 1.0) < 1e-12)
    val ortho = spark.sql(
      "SELECT graft_cosine(array(1.0D, 0.0D), array(0.0D, 1.0D)) AS c").as[Double].head()
    assert(math.abs(ortho) < 1e-12)
    val d = spark.sql(
      "SELECT graft_dot(array(2.0D, 3.0D), array(4.0D, 5.0D)) AS d").as[Double].head()
    assert(d == 23.0)
    val h1 = spark.sql("SELECT graft_simhash64(array('a','b')) AS h").as[Long].head()
    val h2 = spark.sql("SELECT graft_simhash64(array('a','b')) AS h").as[Long].head()
    assert(h1 == h2)
  }

  test("the extension class injects exactly the functions register installs") {
    val injected = scala.collection.mutable.ArrayBuffer.empty[String]
    new GraftExtensions().apply(new org.apache.spark.sql.SparkSessionExtensions {
      override def injectFunction(f: FunctionDescription): Unit = {
        injected += f._1.funcName
        super.injectFunction(f)
      }
    })
    GraftExtensions.register(spark)
    val registered = spark.sessionState.functionRegistry.listFunction()
      .map(_.funcName).filter(_.startsWith("graft_")).toSet
    assert(injected.size == 9 && injected.distinct.size == injected.size, injected)
    assert(injected.toSet == registered)
  }

  test("wrong-typed input to graft_* functions fails at analysis, not runtime") {
    GraftExtensions.register(spark)
    val e1 = intercept[Exception] {
      spark.sql("SELECT graft_dot(array(1, 2), array(3, 4))").collect()
    }
    assert(e1.getMessage.contains("dot_product") || e1.getMessage.contains("DATATYPE"))
    val e2 = intercept[Exception] {
      spark.sql("SELECT graft_simhash64(array(1, 2))").collect()
    }
    assert(e2.getMessage.contains("simhash64") || e2.getMessage.contains("DATATYPE"))
    val e3 = intercept[Exception] {
      spark.sql("SELECT graft_cosine(array(1.0D), 'nope')").collect()
    }
    assert(e3.getMessage.contains("cosine_sim") || e3.getMessage.contains("DATATYPE"))
  }

  test("cosine expression matches the composable zip_with/aggregate form bit-for-bit") {
    val emb = Tables.embeddings(spark, sfDir).limit(50)
      .select($"vec_id", transform($"embedding", x => x.cast("double")).as("v"))
    val q = emb.filter($"vec_id" === 1L).head().getSeq[Double](1)
    val qc = array(q.map(lit): _*)
    val viaKernel = emb.select($"vec_id", VectorFunctions.cosineSim($"v", qc).as("c"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val viaFold = emb.select($"vec_id",
      (aggregate(zip_with($"v", qc, (x, y) => x * y), lit(0.0), (a, x) => a + x) /
        (sqrt(aggregate(zip_with($"v", $"v", (x, y) => x * y), lit(0.0), (a, x) => a + x)) *
         sqrt(aggregate(zip_with(qc, qc, (x, y) => x * y), lit(0.0), (a, x) => a + x)))).as("c"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    viaKernel.foreach { case (id, c) => assert(c == viaFold(id), s"vec $id differs") }
  }

  test("float-array input works without an explicit cast") {
    val one = Tables.embeddings(spark, sfDir).limit(1)
      .select(VectorFunctions.cosineSim($"embedding", $"embedding").as("c"))
      .as[Double].head()
    assert(math.abs(one - 1.0) < 1e-6)
  }

  test("mergeAnnotationArrays: dedup + deterministic order + null tolerance (X2/D1)") {
    val df = Seq(
      (Seq((1L, "a"), (2L, "b")), Seq((2L, "b"), (3L, "c"))),
      (null, Seq((1L, "x"))))
      .toDF("old", "new")
    val merged = df.select(
      AnnotationPipeline.mergeAnnotationArrays($"old", $"new").as("m"))
      .as[Seq[(Long, String)]].collect()
    assert(merged(0) == Seq((1L, "a"), (2L, "b"), (3L, "c")))
    assert(merged(1) == Seq((1L, "x")))
  }

  test("canonicalMapJson: key order normalized (D1 map quirk)") {
    val a = Seq(Map("b" -> 2, "a" -> 1)).toDF("m")
      .select(AnnotationPipeline.canonicalMapJson($"m").as("j")).as[String].head()
    val b = Seq(Map("a" -> 1, "b" -> 2)).toDF("m")
      .select(AnnotationPipeline.canonicalMapJson($"m").as("j")).as[String].head()
    assert(a == b)
    assert(a == """{"a":1,"b":2}""")
  }

  test("simhash64 skips null tokens: same fingerprint as the null-free array") {
    GraftExtensions.register(spark)
    val rows = spark.sql(
      """SELECT graft_simhash64(array('join', 'merge')) AS a,
                graft_simhash64(array('join', CAST(NULL AS STRING), 'merge')) AS b""")
      .head()
    // an unguarded walk voted with a representation-dependent hash for the
    // null element (seed 42 interpreted vs hash("") under codegen)
    assert(rows.getLong(0) == rows.getLong(1))
  }

  test("cosine/dot fail loudly on mismatched vector lengths (no prefix similarity)") {
    GraftExtensions.register(spark)
    val e = intercept[Exception] {
      spark.sql("SELECT graft_cosine(array(1.0d, 0.0d), array(1.0d, 0.0d, 0.0d))").collect()
    }
    assert(e.getMessage.contains("lengths differ") ||
      Option(e.getCause).exists(_.getMessage.contains("lengths differ")),
      s"got: ${e.getMessage}")
  }

  test("punctRatio propagates NULL text instead of reporting 0.0") {
    import spark.implicits._
    val got = Seq(Option("ab."), Option(""), Option.empty[String]).toDF("t")
      .select(graft.functions.TextFunctions.punctRatio($"t").as("r"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(got(0).contains(1.0 / 3.0) && got(1).contains(0.0) && got(2).isEmpty,
      s"got ${got.toSeq}")
  }

  test("normalizeIndexName replaces runs per character, like the reference's str.replace") {
    import spark.implicits._
    val got = Seq("A  B", "a?*b", " x ").toDF("s")
      .select(graft.functions.TextFunctions.normalizeIndexName($"s").as("n"))
      .as[String].collect().toSeq
    // reference (es_common.py:127-131): each forbidden char becomes its own _
    assert(got == Seq("a__b", "a__b", "x"), s"got $got")
  }
}
