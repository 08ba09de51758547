package graft

/** The native expressions must be usable from plain SQL, both via
  * GraftFunctions.register and via the GraftExtensions session hook, and
  * the queries must need neither. */
class SqlFunctionsSpec extends SparkSpec {

  test("native functions callable from SQL") {
    val s = spark.newSession()
    graft.functions.GraftFunctions.register(s)
    val sim = s.sql(
      "SELECT cosine_sim(array(1.0f, 0.0f), array(1.0f, 0.0f)) AS s")
      .collect()(0).getDouble(0)
    assert(sim == 1.0)
    val sh = s.sql(
      "SELECT word_shingles(array('a','b','c'), 2) AS s")
      .collect()(0).getSeq[String](0)
    assert(sh == Seq("a b", "b c"))
    val mh = s.sql(
      "SELECT minhash_sig(array('a','b','c','d'), 4, 2, true, 0) AS s")
      .collect()(0).getSeq[String](0)
    assert(mh.length == 4 && mh.forall(_.length == 32))
    val bucket = s.sql(
      "SELECT hyperplane_lsh(array(1.0f, -1.0f, 0.5f), 8) AS b")
      .collect()(0).getLong(0)
    assert(bucket >= 0 && bucket < 256)
  }

  test("the shared test session has no graft function installed") {
    // every other suite runs its queries here, so a query body or operator
    // that resolved a graft function by name would fail them
    for (f <- graft.functions.GraftFunctions.sqlFunctions)
      assert(!spark.catalog.functionExists(f.name), f.name)
  }

  test("GraftExtensions resolves every SQL name of the function table") {
    // extensions apply when a session is built: build one on the shared
    // context, then hand the shared session back to the other suites
    import org.apache.spark.sql.SparkSession
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val ext = try SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions()).getOrCreate()
    finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
    assert(ext ne spark)
    val reg = ext.sessionState.functionRegistry
    for (f <- graft.functions.GraftFunctions.sqlFunctions) {
      assert(reg.lookupFunction(FunctionIdentifier(f.name)).map(_.getUsage)
        .contains(f.usage), f.name)
      assert(reg.lookupFunctionBuilder(FunctionIdentifier(f.name)).isDefined,
        f.name)
    }
    assert(ext.sql(
      "SELECT cosine_sim(array(1.0f, 0.0f), array(1.0f, 0.0f)) AS s")
      .collect()(0).getDouble(0) == 1.0)
    assert(ext.sql("SELECT char_entropy('abab') AS h")
      .collect()(0).getDouble(0) == 1.0)
    assert(ext.sql("SELECT blocklist_hits('a b a', array('a', 'b')) AS h")
      .collect()(0).getSeq[Long](0) == Seq(2L, 1L))
  }

  test("queries run on a session with no graft function installed and " +
      "leave its functions alone") {
    // a fresh session: nothing graft installed, and a user function that
    // shares a graft SQL name
    val s2 = spark.newSession()
    s2.udf.register("char_entropy", (_: String) => -1.0)
    def names = s2.catalog.listFunctions().collect().map(_.name).toSet
    val before = names
    val dir = "/root/testdata/sf0.001"
    for (q <- Seq("q304_weighted_neardup", "q40_knn_brute",
                  "q325_content_funnel")) {
      def rows(s: org.apache.spark.sql.SparkSession) =
        SparkEntry.queries(q)(s, dir).collect().toSeq
      assert(rows(s2) == rows(spark), q)
    }
    assert(names == before)
    assert(s2.sql("SELECT char_entropy('abab')").collect()(0).getDouble(0)
      == -1.0)
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
