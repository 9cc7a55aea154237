package graft.synthetic

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Port of the reference's test_synthetic invariants (de/tests/
  * test_synthetic.py) + determinism-under-repartition (SURVEY §5-1).
  */
class SyntheticSpec extends SparkSpec {

  private val schemaJson = """{"a": "int", "b": "str", "c": ["int"], "d": {"x": "float", "y": "bool"}}"""
  private lazy val schema = DType.parseSchema(schemaJson)

  test("schema DSL parses all types; rejects unknown") {
    assert(schema.map(_._1) == Seq("a", "b", "c", "d"))
    assert(schema(0)._2 == DType.IntT)
    assert(schema(2)._2 == DType.ListT(DType.IntT))
    assert(schema(3)._2 == DType.StructT(Seq("x" -> DType.FloatT, "y" -> DType.BoolT)))
    intercept[IllegalArgumentException] {
      DType.parseSchema("""{"a": "decimal"}""")
    }
  }

  test("value domains: int in [0,1e6), str len in [10,100), list len in [0,5)") {
    val gen = new DataGenerator(schema, 42L)
    val df = gen.generate(spark, 500).cache()
    val aStats = df.agg(min("a"), max("a")).head()
    assert(aStats.getLong(0) >= 0 && aStats.getLong(1) < 1000000L)
    val lens = df.select(length(col("b"))).agg(min("length(b)"), max("length(b)")).head()
    assert(lens.getInt(0) >= 10 && lens.getInt(1) < 100)
    val listLens = df.select(size(col("c"))).agg(max("size(c)")).head()
    assert(listLens.getInt(0) < 5)
    val chars = df.select(col("b")).collect().flatMap(_.getString(0))
    assert(chars.forall(c => (c >= 'a' && c <= 'z') || c == ' '))
    df.unpersist()
  }

  test("determinism: same seed same output, different seed differs, stable under repartition") {
    val gen = new DataGenerator(schema, 42L)
    val a = gen.generate(spark, 200).orderBy("id").collect()
    val b = gen.generate(spark, 200).repartition(7).orderBy("id").collect()
    assert(a.toSeq == b.toSeq)
    val c = new DataGenerator(schema, 43L).generate(spark, 200).orderBy("id").collect()
    assert(a.toSeq != c.toSeq)
  }

  test("edit-op row-count invariants (reference de/tests/test_synthetic.py)") {
    val n = 1000L
    val e = 4
    val k = 10
    val pts = EditPoints.linspace(e)
    val gen = new DataGenerator(schema, 42L)
    val tables = gen.generateSyntheticTables(spark, n, pts, k, appendRatio = 0.05)
    assert(tables("original").count() == n)
    assert(tables("deleted").count() == n - e * k)
    assert(tables("inserted").count() == n + e * k)
    assert(tables("appended").count() == n + (0.05 * n).toLong)
    assert(tables("updated").count() == n)
    // schema preserved on every variant
    tables.values.foreach(df =>
      assert(df.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
        tables("original").schema.fields.map(f => (f.name, f.dataType)).toSeq))
  }

  test("updated variant changes exactly E rows, others byte-identical") {
    val n = 500L
    val pts = EditPoints.linspace(3)
    val gen = new DataGenerator(schema, 42L)
    val orig = gen.generate(spark, n)
    val upd = gen.updateRows(spark, orig, n, pts)
    val changed = orig.as("o").join(upd.as("u"), "id")
      .filter(col("o.a") =!= col("u.a") || col("o.b") =!= col("u.b"))
      .count()
    assert(changed == 3, s"expected 3 changed rows, got $changed")
  }

  test("per-column update changes only that column") {
    val n = 300L
    val pts = EditPoints.linspace(2)
    val gen = new DataGenerator(schema, 42L)
    val orig = gen.generate(spark, n)
    val updB = gen.updateColumn(spark, orig, n, pts, "b")
    val joined = orig.as("o").join(updB.as("u"), "id").cache()
    assert(joined.filter(col("o.b") =!= col("u.b")).count() == 2)
    assert(joined.filter(col("o.a") =!= col("u.a")).count() == 0)
    joined.unpersist()
  }

  test("inserted variant preserves original row content and dense ids") {
    val n = 200L
    val pts = EditPoints.linspace(2)
    val k = 5
    val gen = new DataGenerator(DType.parseSchema("""{"a": "int"}"""), 42L)
    val orig = gen.generate(spark, n)
    val ins = gen.insertRows(spark, orig, n, pts, k).cache()
    val ids = ins.select("id").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == (0L until n + 2 * k))
    // multiset of original values survives
    val origVals = orig.select("a").collect().map(_.getLong(0)).groupBy(identity).view.mapValues(_.length).toMap
    val insVals = ins.select("a").collect().map(_.getLong(0)).groupBy(identity).view.mapValues(_.length).toMap
    origVals.foreach { case (v, cnt) => assert(insVals.getOrElse(v, 0) >= cnt) }
    ins.unpersist()
  }

  test("overlapping or out-of-range delete windows fail up front, naming the points") {
    val gen = new DataGenerator(schema, 42L)
    val overlap = intercept[IllegalArgumentException] {
      gen.generateSyntheticTables(spark, 1000L, Seq(0.5, 0.505), 10)
    }
    assert(overlap.getMessage.contains("0.5 and 0.505"), overlap.getMessage)
    assert(overlap.getMessage.contains("editSize 10"), overlap.getMessage)
    val outside = intercept[IllegalArgumentException] {
      gen.generateSyntheticTables(spark, 1000L, Seq(0.005), 10)
    }
    assert(outside.getMessage.contains("0.005"), outside.getMessage)
    assert(outside.getMessage.contains("editSize 10"), outside.getMessage)
    // windows that only touch are fine: [490, 500) and [500, 510)
    val touching = gen.generateSyntheticTables(spark, 1000L, Seq(0.5, 0.51), 10)
    assert(touching("deleted").count() == 980L)
  }

  test("edit points linspace matches reference derivation") {
    val pts = EditPoints.linspace(2)
    assert(pts == Seq(0.25, 0.75))
    assert(EditPoints.linspace(1) == Seq(0.5))
  }
}
