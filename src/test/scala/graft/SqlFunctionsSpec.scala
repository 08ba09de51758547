package graft

/** The native expressions must be usable from plain SQL, both via
  * GraftFunctions.register and via the GraftExtensions session hook. */
class SqlFunctionsSpec extends SparkSpec {

  test("native functions callable from SQL") {
    graft.functions.GraftFunctions.register(spark)
    val sim = spark.sql(
      "SELECT cosine_sim(array(1.0f, 0.0f), array(1.0f, 0.0f)) AS s")
      .collect()(0).getDouble(0)
    assert(sim == 1.0)
    val sh = spark.sql(
      "SELECT word_shingles(array('a','b','c'), 2) AS s")
      .collect()(0).getSeq[String](0)
    assert(sh == Seq("a b", "b c"))
    val mh = spark.sql(
      "SELECT minhash_sig(array('a','b','c','d'), 4, 2, true, 0) AS s")
      .collect()(0).getSeq[String](0)
    assert(mh.length == 4 && mh.forall(_.length == 32))
    val bucket = spark.sql(
      "SELECT hyperplane_lsh(array(1.0f, -1.0f, 0.5f), 8) AS b")
      .collect()(0).getLong(0)
    assert(bucket >= 0 && bucket < 256)
  }

  test("GraftExtensions registers all four function descriptions cleanly") {
    // builder-level injection applies on session instantiation (the shared
    // test session already exists); assert the injection itself is sound
    val exts = new org.apache.spark.sql.SparkSessionExtensions
    new graft.functions.GraftExtensions()(exts) // must not throw
    // and the injected builders construct valid expressions
    import org.apache.spark.sql.catalyst.expressions.Literal
    val expr = graft.functions.CosineSimilarity(
      Literal.create(Array(1f, 0f)), Literal.create(Array(1f, 0f)))
    assert(expr.checkInputDataTypes().isSuccess)
    assert(expr.eval(null) == 1.0)
  }

  test("map_min_sum's sorted merge runs where Spark's testing guard is on") {
    // UTF8String.compareTo throws when spark.testing is set; the merge
    // must compare keys with binaryCompare, which it delegates to
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayBasedMapData
    import org.apache.spark.sql.types.{LongType, MapType, StringType}
    import org.apache.spark.unsafe.types.UTF8String
    def tf(kv: (String, Long)*) = Literal(ArrayBasedMapData(
      kv.map(p => UTF8String.fromString(p._1)).toArray[Any],
      kv.map(_._2).toArray[Any]), MapType(StringType, LongType))
    val expr = graft.functions.MapMinSum(
      tf("a" -> 3L, "b" -> 1L, "d" -> 5L), tf("a" -> 2L, "c" -> 7L, "d" -> 9L))
    val before = System.getProperty("spark.testing")
    System.setProperty("spark.testing", "true")
    val sum = try expr.eval(null) finally {
      if (before == null) System.clearProperty("spark.testing")
      else System.setProperty("spark.testing", before)
    }
    assert(sum == 7L)
  }
}
