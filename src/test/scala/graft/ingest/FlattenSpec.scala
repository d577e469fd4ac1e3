package graft.ingest

import graft.SparkSpec
import org.apache.spark.sql.functions._

case class FlattenNested(fnumber: String, scan_time: String)
case class FlattenRec(id: Long, name: String, fnumbers: Seq[FlattenNested])
case class CollideNested(name: String)
case class CollideRec(id: Long, name: String, ns: Seq[CollideNested])
case class TwoArrA(x: String)
case class TwoArrB(y: String)
case class TwoArrRec(id: Long, as: Seq[TwoArrA], bs: Seq[TwoArrB])

/** Property tests for the flatten operator (SURVEY.md §2.4 rules). */
class FlattenSpec extends SparkSpec {
  import spark.implicits._

  test("row count = Σ max(1, |array|) — the k=0→1 rule") {
    val recs = Seq(
      FlattenRec(1, "a", Seq(FlattenNested("f1", "t1"), FlattenNested("f2", "t2"))),
      FlattenRec(2, "b", Seq.empty),
      FlattenRec(3, "c", Seq(FlattenNested("f3", "t3"))))
    val out = Flatten(recs.toDF()).cache()
    try {
      assert(out.count() == 2 + 1 + 1)
      // k=0 record survives with null nested fields
      val r2 = out.filter(col("id") === 2).collect()
      assert(r2.length == 1 && r2(0).isNullAt(r2(0).fieldIndex("fnumber")))
    } finally out.unpersist()
  }

  test("null array behaves like empty (1 base row)") {
    val df = Seq((1L, "x")).toDF("id", "name")
      .withColumn("fnumbers", lit(null).cast("array<struct<fnumber:string,scan_time:string>>"))
    val out = Flatten(df)
    assert(out.count() == 1)
  }

  test("base fields duplicate across sibling rows") {
    val recs = Seq(FlattenRec(7, "dup",
      Seq(FlattenNested("f1", "t1"), FlattenNested("f2", "t2"), FlattenNested("f3", "t3"))))
    val out = Flatten(recs.toDF())
    val names = out.select(col("name")).collect().map(_.getString(0))
    assert(names.length == 3 && names.forall(_ == "dup"))
  }

  test("nested fields overwrite base fields on name collision") {
    val df = Seq(CollideRec(1L, "base", Seq(CollideNested("nested")))).toDF()
    val got = Flatten(df).select(col("name")).collect().map(_.getString(0))
    assert(got.toSeq == Seq("nested"))
  }

  test("multiple distinct repeated keys: union of expansions, not cross product") {
    val df = Seq(TwoArrRec(1L, Seq(TwoArrA("a1"), TwoArrA("a2")), Seq(TwoArrB("b1")))).toDF()
    val out = Flatten(df).cache()
    try {
      // 2 rows from `as` + 1 row from `bs` = 3 (cross product would be 2)
      assert(out.count() == 3)
      assert(out.filter(col("x").isNotNull && col("y").isNotNull).count() == 0)
    } finally out.unpersist()
  }

  test("no array columns → identity") {
    val df = Seq((1L, "x")).toDF("id", "name")
    assert(Flatten(df).collect().toSeq == df.collect().toSeq)
  }

  test("property: row count invariant over randomized fixtures (seeded)") {
    val rnd = new scala.util.Random(7)
    (1 to 5).foreach { _ =>
      val recs = (1 to 25).map { i =>
        val k = rnd.nextInt(4) // 0..3 nested elements
        FlattenRec(i.toLong, s"n$i",
          (1 to k).map(j => FlattenNested(s"f$i-$j", s"t$j")))
      }
      val expected = recs.map(r => math.max(1, r.fnumbers.size).toLong).sum
      assert(Flatten(recs.toDF()).count() == expected)
    }
  }
}
