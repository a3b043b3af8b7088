package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftSql

/** The SQL function surface: every native Catalyst expression must be
  * reachable from plain SQL once `GraftSql.ensureRegistered` has run on
  * a session, and return bit-identical results to the Column API. This
  * spec mostly guards the plumbing: builder arity, literal-argument
  * extraction, generator registration, and the optimizer rules the
  * registry installs.
  */
class ExtensionsSpec extends SparkSpec {

  /** A fresh session over the suite's SparkContext, with the registry
    * installed the way every engine session gets it.
    */
  private def withRegisteredSession[T](f: SparkSession => T): T = {
    val s2 = spark.newSession()
    GraftSql.ensureRegistered(s2)
    f(s2)
  }

  private val fixtureSql =
    """SELECT array('the', 'fast', 'key', 'the', 'fast') AS toks,
      |  'Hello, World 42!' AS txt,
      |  array(CAST(0.5 AS FLOAT), CAST(-1.0 AS FLOAT),
      |        CAST(2.0 AS FLOAT), CAST(0.25 AS FLOAT)) AS vec,
      |  array(struct('alpha' AS word, CAST(1.5 AS DOUBLE) AS w),
      |        struct('beta' AS word, CAST(-2.25 AS DOUBLE) AS w),
      |        struct('gamma' AS word, CAST(0.125 AS DOUBLE) AS w)) AS sv""".stripMargin

  private def columnTwin(base: DataFrame): DataFrame =
    base.select(
      GraftSql.simHash64(col("toks")).as("h64"),
      GraftSql.simHash16(col("toks")).as("h16"),
      GraftSql.shingleSet(col("toks"), 2).as("ss"),
      GraftSql.shingleHashSet(col("toks"), 2).as("shs"),
      GraftSql.shingleMinHash(col("toks"), 2, (0 until 4).map(j => s"$j|")).as("mh"),
      GraftSql.sortedIntersectCount(
        GraftSql.shingleHashSet(col("toks"), 2),
        GraftSql.shingleHashSet(col("toks"), 2)).as("ic"),
      GraftSql.charStats(col("txt")).as("cs"),
      GraftSql.floatDot(col("vec"), col("vec")).as("fd"),
      GraftSql.signBands(col("vec"), 8, 2, 4).as("sb"),
      GraftSql.sparseDot(col("sv"), col("sv")).as("sd"))

  private val scalarCallsSql =
    """SELECT
      |  simhash64(toks) AS h64,
      |  simhash16(toks) AS h16,
      |  shingle_set(toks, 2) AS ss,
      |  shingle_hash_set(toks, 2) AS shs,
      |  shingle_minhash(toks, 2, 4) AS mh,
      |  sorted_intersect_count(shingle_hash_set(toks, 2),
      |                         shingle_hash_set(toks, 2)) AS ic,
      |  char_stats(txt) AS cs,
      |  float_dot(vec, vec) AS fd,
      |  sign_bands(vec, 8, 2, 4) AS sb,
      |  sparse_dot(sv, sv) AS sd
      |FROM fixture""".stripMargin

  test("injector session answers SQL == Column API, all scalar functions") {
    withRegisteredSession { s2 =>
      s2.sql(fixtureSql).createOrReplaceTempView("fixture")
      val viaSql = s2.sql(scalarCallsSql).collect().map(_.toString).toSeq
      val viaCols = columnTwin(s2.sql(fixtureSql)).collect().map(_.toString).toSeq
      assert(viaSql === viaCols)
      assert(viaSql.head.nonEmpty)
    }
  }

  test("pair_explode generator is SQL-callable and yields i<j pairs") {
    withRegisteredSession { s2 =>
      val rows = s2.sql("SELECT x, y FROM (SELECT pair_explode(array(1, 2, 3)))")
        .collect().map(r => (r.getInt(0), r.getInt(1))).toSeq
      assert(rows === Seq((1, 2), (1, 3), (2, 3)))
    }
  }

  test("shape parameters must be foldable int literals") {
    withRegisteredSession { s2 =>
      val err = intercept[Exception] {
        s2.sql("SELECT shingle_set(array('a', 'b'), CAST(id AS INT)) FROM range(2)")
          .collect()
      }
      assert(err.getMessage.contains("foldable"), err.getMessage)
    }
  }

  test("ensureRegistered exposes the same surface on an existing session; idempotent") {
    GraftSql.ensureRegistered(spark)
    GraftSql.ensureRegistered(spark)
    spark.sql(fixtureSql).createOrReplaceTempView("fixture")
    val viaSql = spark.sql(scalarCallsSql).collect().map(_.toString).toSeq
    val viaCols = columnTwin(spark.sql(fixtureSql)).collect().map(_.toString).toSeq
    assert(viaSql === viaCols)

    // the rules and strategies too: a fresh session holds exactly the
    // registry after one call, with no duplicates after a second
    val fresh = spark.newSession()
    GraftSql.ensureRegistered(fresh)
    GraftSql.ensureRegistered(fresh)
    assert(fresh.experimental.extraOptimizations === GraftSql.rules)
    assert(fresh.experimental.extraStrategies === GraftSql.strategies)
    // and on that session alone the HOF inner product goes native
    val df = fresh.range(4).select(
      expr("transform(sequence(1, 3), i -> CAST(i + id AS FLOAT))").as("a"),
      expr("transform(sequence(1, 3), i -> CAST(i * 2 - id AS FLOAT))").as("b"))
    val p = df.select(graft.functions.Vectors.dotHof(col("a"), col("b")).as("d"))
      .queryExecution.optimizedPlan.toString
    assert(p.contains("float_dot") && !p.contains("aggregate(zip_with"), p.take(800))
  }

  test("a second ensureRegistered call leaves the function registry unchanged") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val fresh = spark.newSession()
    GraftSql.ensureRegistered(fresh)
    val registry = fresh.sessionState.functionRegistry
    val before = registry.listFunction().map(id => id -> registry.lookupFunction(id).get)
    assert(before.exists(_._1 == FunctionIdentifier("sparse_dot")))
    GraftSql.ensureRegistered(fresh)
    assert(registry.listFunction().toSet === before.map(_._1).toSet)
    // a re-registration would store a fresh ExpressionInfo under the name
    before.foreach { case (id, info) =>
      assert(registry.lookupFunction(id).get eq info, id)
    }
  }

  test("optimizer rule rewrites HOF inner products to natives, bit-exact") {
    withRegisteredSession { s2 =>
      import graft.functions.Vectors
      // transform-derived arrays carry containsNull = false (non-null
      // lambda over non-null elements): the soundness precondition the
      // rule checks. Built over range() — a literal Seq would
      // constant-fold into a LocalRelation and leave no plan to assert.
      val df = s2.range(4).select(col("id"),
          expr("transform(sequence(1, 3), i -> CAST(i * 3 + id AS FLOAT))")
            .as("a"),
          expr("transform(sequence(1, 3), i -> CAST(i - 2 * id AS FLOAT))")
            .as("b"))
        .withColumn("bd", expr("transform(b, x -> CAST(x AS DOUBLE))"))
      val q = df.select(
        Vectors.dotHof(col("a"), col("b")).as("dot_ff"),
        Vectors.sqDistHof(col("a"), col("b")).as("sq_ff"),
        aggregate(zip_with(col("a"), col("bd"),
          (x, y) => x.cast("double") * y), lit(0.0), (acc, v) => acc + v)
          .as("dot_fd"),
        aggregate(zip_with(col("bd"), col("a"),
          (x, y) => (x - y.cast("double")) * (x - y.cast("double"))),
          lit(0.0), (acc, v) => acc + v).as("sq_df_swapped"))
      val p = q.queryExecution.optimizedPlan.toString
      // every HOF form replaced by its native (incl. the commuted one)
      assert(!p.contains("aggregate(zip_with"), p.take(1200))
      assert(p.contains("float_dot") && p.contains("float_sqdist") &&
        p.contains("fd_dot") && p.contains("fd_sqdist"), p.take(1200))
      // bit-equality against the directly-written natives
      val got = q.collect().map(_.toString).toSeq
      val want = df.select(
        Vectors.dot(col("a"), col("b")).as("dot_ff"),
        Vectors.sqDist(col("a"), col("b")).as("sq_ff"),
        GraftSql.fdDot(col("a"), col("bd")).as("dot_fd"),
        GraftSql.fdSqDist(col("a"), col("bd")).as("sq_df_swapped"))
        .collect().map(_.toString).toSeq
      assert(got === want)
    }
  }

  test("optimizer rule also installs via spark.experimental.extraOptimizations") {
    // the rule alone through the public hook ensureRegistered uses —
    // extraOptimizations run in their own post-optimization batch, so
    // the rule must match the already-cast-simplified shapes too
    import graft.functions.Vectors
    val prev = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations =
      prev :+ graft.plans.NativeVectorRewrite
    try {
      val df = spark.range(4).select(
        expr("transform(sequence(1, 3), i -> CAST(i + id AS FLOAT))").as("a"),
        expr("transform(sequence(1, 3), i -> CAST(i * 2 - id AS FLOAT))").as("b"))
      val q = df.select(Vectors.dotHof(col("a"), col("b")).as("d"))
      val p = q.queryExecution.optimizedPlan.toString
      assert(p.contains("float_dot") && !p.contains("aggregate(zip_with"),
        p.take(800))
      val want = df.select(Vectors.dot(col("a"), col("b")).as("d"))
        .collect().map(_.getDouble(0)).toSeq
      assert(q.collect().map(_.getDouble(0)).toSeq === want)
    } finally spark.experimental.extraOptimizations = prev
  }

  test("optimizer rule leaves nullable-element arrays on the HOF path") {
    withRegisteredSession { s2 =>
      import graft.functions.Vectors
      // parquet arrays default to containsNull = true — the HOF nulls
      // out on a null element where the natives read primitive buffers,
      // so the rewrite must NOT fire
      val emb = Tables.embeddings(s2, sf).limit(8)
      val q = emb.select(
        Vectors.dotHof(col("embedding"), col("embedding")).as("d"))
      val p = q.queryExecution.optimizedPlan.toString
      assert(p.contains("aggregate(zip_with"), p.take(1200))
      assert(!p.contains("float_dot"), p.take(1200))
    }
  }

  test("assertDense unlocks the rewrite on parquet-sourced frames") {
    withRegisteredSession { s2 =>
      import graft.functions.Vectors
      // the on-ramp for the rule's real audience: read data. The user
      // asserts the embedding column dense (zero-cost retyping, no
      // runtime check) and the same HOF query that stays interpreted
      // above now compiles onto the fused natives — bit-exactly.
      val emb = Tables.embeddings(s2, sf).limit(8)
        .withColumn("e", Vectors.assertDense(col("embedding")))
      val q = emb.select(col("vec_id"),
        Vectors.dotHof(col("e"), col("e")).as("d"),
        Vectors.sqDistHof(col("e"), col("e")).as("s"))
      val p = q.queryExecution.optimizedPlan.toString
      assert(p.contains("float_dot") && p.contains("float_sqdist") &&
        !p.contains("aggregate(zip_with"), p.take(1200))
      val got = q.collect().map(_.toString).toSeq
      val want = Tables.embeddings(s2, sf).limit(8)
        .select(col("vec_id"),
          Vectors.dot(col("embedding"), col("embedding")).as("d"),
          Vectors.sqDist(col("embedding"), col("embedding")).as("s"))
        .collect().map(_.toString).toSeq
      assert(got === want && got.nonEmpty)
      // and the SQL spelling reaches the same expression
      Tables.embeddings(s2, sf).limit(2).createOrReplaceTempView("emb_ad")
      val viaSql = s2.sql(
        """SELECT aggregate(zip_with(assert_dense(embedding),
          |    assert_dense(embedding), (x, y)
          |    -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
          |  CAST(0.0 AS DOUBLE), (acc, v) -> acc + v) AS d
          |FROM emb_ad""".stripMargin)
      assert(viaSql.queryExecution.optimizedPlan.toString
        .contains("float_dot"))
      assert(viaSql.collect().map(_.getDouble(0)).forall(_ > 0.0))
    }
  }
}
