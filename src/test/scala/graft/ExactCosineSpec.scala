package graft

import graft.api.SimilarityOps
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** The exact similarity tier (`SimilarityOps.cosineTopK`, `nearDupPairs`)
  * against its relational definition: a nested-loop self-join on
  * `id_a < id_b` scored with the codegen `DotProduct`, rounded to 6dp,
  * then sorted and limited, or filtered at the threshold.
  */
class ExactCosineSpec extends AnyFunSuite {
  import SparkFixture._

  private def check(p: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(25).withMaxSize(20), p)
    assert(res.passed, res.status.toString)
  }

  private def pairs(emb: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val e = emb.select(col(idCol).as("vec_id"),
      transform(col(vecCol), x => x.cast("double")).as("e"))
    val a = e.select(col("vec_id").as("id_a"), col("e").as("e_a"))
    val b = e.select(col("vec_id").as("id_b"), col("e").as("e_b"))
    a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(graft.functions.DotProduct.dot(col("e_a"), col("e_b")), 6).as("cos"))
  }

  private def refTopK(emb: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame =
    pairs(emb, idCol, vecCol).orderBy(desc("cos"), col("id_a"), col("id_b")).limit(k)

  private def refNearDup(emb: DataFrame, idCol: String, vecCol: String, t: Double): DataFrame =
    pairs(emb, idCol, vecCol).filter(col("cos") >= t)

  // raw dots that sit on a HALF_UP midpoint of round(x, 6) or just off it
  private val boundary = Seq(0.2500005, 0.4499995, 0.4500005, 0.45, -0.0000005)
  private val element: Gen[Option[Double]] = Gen.frequency(
    40 -> Gen.oneOf(-1.0, -0.5, 0.0, 0.25, 0.5, 1.0).map(Some(_)),
    40 -> Gen.choose(-1.0, 1.0).map(Some(_)),
    10 -> Gen.oneOf(boundary).map(Some(_)),
    5 -> Gen.const(None),
    2 -> Gen.oneOf(Double.NaN, Double.PositiveInfinity).map(Some(_)))
  private val vector: Gen[Option[Seq[Option[Double]]]] = Gen.frequency(
    85 -> Gen.choose(2, 4).flatMap(Gen.listOfN(_, element)).map(Some(_)),
    5 -> Gen.const(Some(Nil)),
    10 -> Gen.const(None))
  // small id range forces duplicate ids; reused vectors force tied cosines
  private val corpus: Gen[List[(Long, Option[Seq[Option[Double]]])]] = for {
    n <- Gen.choose(0, 14)
    base <- Gen.listOfN(n, Gen.zip(Gen.choose(0L, 12L), vector))
    copies <- Gen.listOfN(n / 3, Gen.zip(Gen.choose(0L, 12L), Gen.choose(0, math.max(0, n - 1))))
  } yield base ++ copies.collect { case (id, i) if base.nonEmpty => (id, base(i)._2) }

  private def same(got: DataFrame, want: DataFrame, ordered: Boolean): Boolean = {
    def rows(df: DataFrame) = {
      val r = df.collect().toSeq
      if (ordered) r else r.sortBy(_.toString)
    }
    got.schema == want.schema && rows(got) == rows(want)
  }

  test("property: cosineTopK equals the sorted nested-loop pair scan") {
    check(Prop.forAll(corpus, Gen.choose(0, 120)) { (rows, k) =>
      import spark.implicits._
      val emb = rows.toDF("id", "vec")
      same(SimilarityOps.cosineTopK(emb, "id", "vec", k), refTopK(emb, "id", "vec", k),
        ordered = true)
    })
  }

  test("property: nearDupPairs equals the filtered nested-loop pair scan") {
    val threshold = Gen.oneOf(Gen.oneOf(0.250001, 0.25, 0.45, 0.450001, 0.0, 1.0, Double.NaN),
      Gen.choose(-1.0, 1.0))
    check(Prop.forAll(corpus, threshold) { (rows, t) =>
      import spark.implicits._
      val emb = rows.toDF("id", "vec")
      same(SimilarityOps.nearDupPairs(emb, "id", "vec", t), refNearDup(emb, "id", "vec", t),
        ordered = false)
    })
  }

  test("Int ids and float vectors keep their types and rankings") {
    import spark.implicits._
    val emb = Seq((3, Seq(1.0f, 0.0f)), (1, Seq(0.6f, 0.8f)), (2, Seq(0.6f, 0.8f)),
      (2, Seq(0.0f, 1.0f)), (5, null)).toDF("id", "vec")
    assert(same(SimilarityOps.cosineTopK(emb, "id", "vec", 50), refTopK(emb, "id", "vec", 50),
      ordered = true))
    assert(same(SimilarityOps.nearDupPairs(emb, "id", "vec", 0.6),
      refNearDup(emb, "id", "vec", 0.6), ordered = false))
  }

  test("threshold on a rounding boundary keeps the pair whose dot rounds up to it") {
    import spark.implicits._
    val emb = Seq((1L, Seq(0.2500005, 0.0)), (2L, Seq(1.0, 0.0))).toDF("id", "vec")
    val got = SimilarityOps.nearDupPairs(emb, "id", "vec", 0.250001).collect()
    assert(got.toSeq === Seq(Row(1L, 2L, 0.250001)))
    val top = SimilarityOps.cosineTopK(emb, "id", "vec", 1).collect()
    assert(top.toSeq === Seq(Row(1L, 2L, 0.250001)))
  }

  test("pair counters count every scored pair and the ranked ones") {
    import spark.implicits._
    val n = 40
    val emb = (0 until n).map(i => (i.toLong, Seq(math.cos(i * 0.3), math.sin(i * 0.3))))
      .toDF("id", "vec")
    val seen = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    val listener = new SparkListener {
      override def onStageCompleted(ev: SparkListenerStageCompleted): Unit =
        ev.stageInfo.accumulables.values.foreach { a =>
          a.name.filter(_.startsWith("graft.cosine.")).foreach { name =>
            seen.merge(name, a.value.get.asInstanceOf[Long], (x, y) => x + y)
          }
        }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      SimilarityOps.cosineTopK(emb, "id", "vec", 5).collect()
      val deadline = System.nanoTime() + 10000000000L
      while (seen.size < 2 && System.nanoTime() < deadline) Thread.sleep(20)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(seen.get("graft.cosine.pairs_scored") == n * (n - 1) / 2)
    val ranked = seen.get("graft.cosine.pairs_ranked")
    assert(ranked >= 5 && ranked < n * (n - 1) / 2, s"ranked=$ranked")
  }
}
