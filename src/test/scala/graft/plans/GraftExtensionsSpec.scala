package graft.plans

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** SQL-frontend access to the custom expressions, through the shared
  * test session's SQL surface.
  */
class GraftExtensionsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.TestSpark.spark

  test("parse_log_line from SQL") {
    val r = spark.sql(
      """SELECT parse_log_line('10.0.0.1 GET 200', '^(\\S+) (\\S+) (\\S+)$') AS g""")
      .selectExpr("g[0]", "g[1]", "g[2]").collect().head
    assert(r.getString(0) == "10.0.0.1" && r.getString(1) == "GET" && r.getString(2) == "200")
    val miss = spark.sql(
      """SELECT parse_log_line('no match here at all', '^(\\d+)$') AS g""").collect().head
    assert(miss.isNullAt(0))
  }

  test("dot_product, shingle_hashes, minhash_signature, fence from SQL") {
    val d = spark.sql(
      "SELECT dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d").collect().head
    assert(d.getDouble(0) == 11.0)
    val sig = spark.sql(
      "SELECT minhash_signature(shingle_hashes('a b c d', 3), 8) AS s")
      .selectExpr("size(s)").collect().head
    assert(sig.getInt(0) == 8)
    val f = spark.sql("SELECT fence(1 + 1) AS v").collect().head
    assert(f.getInt(0) == 2)
  }

  test("sorted shingles, intersect count, text_quality_stats from SQL") {
    val j = spark.sql(
      """SELECT sorted_intersect_count(
        |  sorted_shingle_hashes('a b c d e', 3),
        |  sorted_shingle_hashes('a b c d x', 3)) AS inter""".stripMargin).collect().head
    assert(j.getInt(0) == 2) // 'a b c', 'b c d' shared; 'c d e' vs 'c d x' differ
    val q = spark.sql(
      "SELECT text_quality_stats('The quick 42 fox') AS s")
      .selectExpr("s.n_chars", "s.n_alpha", "s.n_digit", "s.n_toks", "s.stop_hits")
      .collect().head
    assert(q.getInt(0) == 16 && q.getInt(1) == 11 && q.getInt(2) == 2)
    assert(q.getInt(3) == 4 && q.getInt(4) == 1) // 'the'
  }

  test("span_hashes from SQL: positional, occurrences kept") {
    val r = spark.sql(
      "SELECT span_hashes('a b a b a', 2) AS h").selectExpr("size(h)", "h[0] = h[2]")
      .collect().head
    assert(r.getInt(0) == 4) // 4 overlapping 2-token spans
    assert(r.getBoolean(1)) // 'a b' at positions 1 and 3 hash identically
  }

  test("parse_log_template, fast_local_time from SQL") {
    val r = spark.sql(
      """SELECT parse_log_template('10.0.0.1 GET 200', '$ip $method $status') AS g""")
      .selectExpr("g[0]", "g[1]", "g[2]").collect().head
    assert(r.getString(0) == "10.0.0.1" && r.getString(1) == "GET" && r.getString(2) == "200")
    val miss = spark.sql(
      """SELECT parse_log_template('a|b', '$x $y') AS g""").collect().head
    assert(miss.isNullAt(0))
    val t = spark.sql(
      "SELECT CAST(fast_local_time('21/Jul/2022:00:30:43 +0000') AS STRING) AS ts, " +
        "fast_local_time('garbage') AS bad").collect().head
    assert(t.getString(0) == "2022-07-21 00:30:43")
    assert(t.isNullAt(1))
  }

  test("repetition_stats and simhash60 from SQL") {
    val r = spark.sql("SELECT repetition_stats('spam spam spam egg') AS s")
      .selectExpr("s.n_toks", "s.n_distinct", "s.top1", "s.top2", "s.top3")
      .collect().head
    assert(r.getInt(0) == 4 && r.getInt(1) == 2 && r.getInt(2) == 3)
    assert(r.getInt(3) == 2 && r.getInt(4) == 1) // "spam spam" twice; trigrams unique
    // SQL fingerprint == Column-API fingerprint
    import spark.implicits._
    val viaSql = spark.sql("SELECT simhash60('the quick brown fox') AS fp")
      .as[Long].collect().head
    val viaCol = Seq("the quick brown fox").toDF("text")
      .select(graft.operators.Dedup.simhash64(
        org.apache.spark.sql.functions.col("text")).as("fp"))
      .as[Long].collect().head
    assert(viaSql == viaCol)
  }

  test("graft_topk aggregate from SQL: MG bounds + GROUP BY form") {
    import spark.implicits._
    // 40×'a', 20×'b', singletons — k=8 must carry both heavy items with
    // no overcount; summary is a map<string,bigint>
    val terms = (Seq.fill(40)("a") ++ Seq.fill(20)("b") ++
      (1 to 10).map(i => s"x$i")).zipWithIndex
      .map { case (t, i) => (t, i % 2) }
    terms.toDF("term", "grp").createOrReplaceTempView("ge_terms")
    val whole = spark.sql(
      "SELECT graft_topk(term, 8) AS s FROM ge_terms")
      .selectExpr("s['a']", "s['b']").collect().head
    assert(!whole.isNullAt(0) && whole.getLong(0) <= 40 &&
      whole.getLong(0) >= 40 - 70 / 9) // est ≤ true ≤ est + n/(k+1)
    assert(!whole.isNullAt(1) && whole.getLong(1) <= 20)
    // grouped: each group's summary only sees its partition of the data
    val grouped = spark.sql(
      "SELECT grp, graft_topk(term, 8) AS s FROM ge_terms GROUP BY grp")
      .selectExpr("grp", "s['a']").collect()
    assert(grouped.length == 2)
    grouped.foreach(r => assert(!r.isNullAt(1) && r.getLong(1) <= 20))
  }

  test("graft_topk_weighted aggregate from SQL: weighted MG bounds, " +
    "int weights implicit-cast, GROUP BY form") {
    import spark.implicits._
    // 'a' carries 400 of ~470 total weight — must be present with no
    // overcount and undercount ≤ W/(k+1); weights typed INT to prove the
    // encoder-driven implicit cast to BIGINT
    val rows = (Seq.fill(4)(("a", 100)) ++ Seq.fill(10)(("b", 5)) ++
      (1 to 10).map(i => (s"x$i", 2))).zipWithIndex
      .map { case ((t, w), i) => (t, w, i % 2) }
    rows.toDF("term", "w", "grp").createOrReplaceTempView("ge_wterms")
    val wsum = rows.map(_._2).sum
    val whole = spark.sql(
      "SELECT graft_topk_weighted(term, w, 8) AS s FROM ge_wterms")
      .selectExpr("s['a']", "s['b']").collect().head
    assert(!whole.isNullAt(0) && whole.getLong(0) <= 400 &&
      whole.getLong(0) >= 400L - wsum / 9)
    assert(whole.isNullAt(1) || whole.getLong(1) <= 50)
    val grouped = spark.sql(
      "SELECT grp, graft_topk_weighted(term, w, 8) AS s " +
        "FROM ge_wterms GROUP BY grp")
      .selectExpr("grp", "s['a']").collect()
    assert(grouped.length == 2)
    grouped.foreach(r => assert(!r.isNullAt(1) && r.getLong(1) <= 200))
    // NULL weights are SKIPPED, not a deserializer crash (the tuple
    // encoder's weight slot is a non-nullable primitive; the builder
    // coalesces to 0, which the aggregator discards)
    Seq((Some("a"), Some(5L)), (Some("a"), None), (None, Some(9L)))
      .toDF("t", "w").createOrReplaceTempView("ge_wnull")
    val nw = spark.sql("SELECT graft_topk_weighted(t, w, 4) AS s FROM ge_wnull")
      .selectExpr("s['a']").collect().head
    assert(!nw.isNullAt(0) && nw.getLong(0) == 5L)
  }

  test("graft_kll_quantile aggregate from SQL: decimal/double φ, per-group") {
    import spark.implicits._
    (0 until 1000).map(i => (i.toDouble, i % 2)).toDF("v", "grp")
      .createOrReplaceTempView("ge_vals")
    // whole frame, φ as a SQL decimal literal
    val med = spark.sql(
      "SELECT graft_kll_quantile(v, 128, 0.5) AS q FROM ge_vals")
      .collect().head.getDouble(0)
    assert(med > 400 && med < 600, s"median $med")
    // per group with double φ; evens vs odds have disjoint parity
    val qs = spark.sql(
      "SELECT grp, graft_kll_quantile(v, 128, 0.99d) AS q " +
        "FROM ge_vals GROUP BY grp").collect()
    assert(qs.length == 2)
    qs.foreach(r => assert(r.getDouble(1) > 900, r.toString))
    // non-literal k is a named error, not a silent misread
    val e = intercept[Exception](spark.sql(
      "SELECT graft_kll_quantile(v, CAST(grp AS INT), 0.5) FROM ge_vals").collect())
    assert(e.getMessage.contains("graft_kll_quantile"), e.getMessage)
  }

  test("graft_sample aggregate from SQL: k distinct rows, per-group, salted") {
    import spark.implicits._
    (0 until 500).map(i => (s"r$i", i % 2)).toDF("t", "grp")
      .createOrReplaceTempView("ge_sample")
    val whole = spark.sql("SELECT graft_sample(t, 16) AS s FROM ge_sample")
      .collect().head.getSeq[String](0)
    assert(whole.size == 16 && whole.distinct.size == 16 &&
      whole.forall(_.startsWith("r")))
    val grouped = spark.sql(
      "SELECT grp, graft_sample(t, 8, 7) AS s FROM ge_sample GROUP BY grp")
      .collect()
    assert(grouped.length == 2)
    for (r <- grouped) { // each group's sample only holds its own parity
      val par = r.getInt(0)
      val s = r.getSeq[String](1)
      assert(s.size == 8 && s.forall(_.drop(1).toInt % 2 == par), s.toString)
    }
  }

  test("graft_histogram aggregate from SQL: exact regime, mass, edges, per-group") {
    import spark.implicits._
    (0 until 900).map(i => ((i % 6).toDouble, i % 2)).toDF("v", "grp")
      .createOrReplaceTempView("ge_hist")
    // 6 distinct values < bins → the exact value→count table
    val bins = spark.sql("SELECT graft_histogram(v, 8) AS h FROM ge_hist")
      .selectExpr("inline(h)").collect()
    assert(bins.length == 6)
    assert(bins.map(_.getLong(2)).sum == 900L)
    assert(bins.head.getDouble(0) == 0.0 && bins.last.getDouble(1) == 5.0)
    // per group: evens see {0,2,4}, odds {1,3,5}
    val grouped = spark.sql(
      "SELECT grp, graft_histogram(v, 8) AS h FROM ge_hist GROUP BY grp")
      .selectExpr("grp", "inline(h)").collect()
    assert(grouped.length == 6)
    grouped.foreach { r =>
      // in the exact regime every bin degenerates to its center value:
      // lower = upper bin edges collapse except the outer ones; just pin
      // parity membership via the height column's value domain
      assert(r.getLong(3) == 150L, r.toString)
    }
    // non-literal bins is a named error
    val e = intercept[Exception](spark.sql(
      "SELECT graft_histogram(v, CAST(grp AS INT)) FROM ge_hist").collect())
    assert(e.getMessage.contains("graft_histogram"), e.getMessage)
    // NULL skip + all-NULL group → empty bin array, not a crash
    val empty = spark.sql(
      "SELECT graft_histogram(CAST(NULL AS DOUBLE), 8) AS h")
      .collect().head.getSeq[Any](0)
    assert(empty.isEmpty)
  }

  test("graft_bitmap_card aggregate from SQL: exact distinct, GROUP BY form, " +
      "null skip, int implicit-cast") {
    import spark.implicits._
    val rows = (0 until 5000).map(i => (i % 3, (i * 37L) % 1234))
    rows.toDF("grp", "id").createOrReplaceTempView("ge_bm")
    val whole = spark.sql(
      "SELECT graft_bitmap_card(id), count(DISTINCT id) FROM ge_bm")
      .collect().head
    assert(whole.getLong(0) == whole.getLong(1)) // EXACT, not approximate
    val grouped = spark.sql(
      """SELECT grp, graft_bitmap_card(id) AS c, count(DISTINCT id) AS e
        |FROM ge_bm GROUP BY grp""".stripMargin).collect()
    assert(grouped.length == 3)
    grouped.foreach(r => assert(r.getLong(1) == r.getLong(2), r.toString))
    // NULL ids are skipped like count(DISTINCT); INT ids implicit-cast
    Seq(Some(1), None, Some(2), Some(1), None).toDF("id")
      .createOrReplaceTempView("ge_bm_null")
    val n = spark.sql("SELECT graft_bitmap_card(id) FROM ge_bm_null")
      .collect().head.getLong(0)
    assert(n == 2L)
  }

  test("SQL sketch aggregates skip NULLs (standard aggregate semantics)") {
    import spark.implicits._
    // raw column values reach the Aggregators here (no na.drop upstream
    // like the DataFrame surfaces) — NULL items must be ignored, never
    // counted and never a null map key / encoding failure
    Seq(Some("a"), None, Some("a"), None).toDF("t")
      .createOrReplaceTempView("ge_null_t")
    val m = spark.sql("SELECT graft_topk(t, 4) AS s FROM ge_null_t")
      .selectExpr("map_keys(s)", "s['a']").collect().head
    assert(m.getSeq[String](0).toSeq == Seq("a") && m.getLong(1) == 2L)
    Seq(Some(1.0), None, Some(3.0), None).toDF("v")
      .createOrReplaceTempView("ge_null_v")
    val q = spark.sql(
      "SELECT graft_kll_quantile(v, 128, 1.0) AS q FROM ge_null_v")
      .collect().head.getDouble(0)
    assert(q == 3.0, s"max over non-null values, got $q")
    // all-NULL group: NaN, not a crash
    val nan = spark.sql(
      "SELECT graft_kll_quantile(CAST(NULL AS DOUBLE), 128, 0.5)")
      .collect().head.getDouble(0)
    assert(nan.isNaN)
  }

  test("graft_window_funnel aggregate from SQL ≡ Funnels.windowFunnel") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, timestamp_micros}
    // deterministic synthetic journeys: 40 users × up to 8 events with
    // colliding timestamps (exercises the (ts, id) tie order), plus a
    // null-ts row and a no-step-1 user
    val rnd = new scala.util.Random(5)
    val evs = (0 until 40).flatMap { u =>
      (0 until (1 + rnd.nextInt(8))).map { j =>
        (u.toLong, (u * 100 + j).toLong, (rnd.nextInt(6) * 100).toLong,
          Seq("view", "click", "buy", "other")(rnd.nextInt(4)))
      }
    } :+ (99L, 9900L, 0L, "other")
    val df = evs.toDF("user_id", "event_id", "t_us", "etype")
      .withColumn("ts", timestamp_micros(col("t_us"))).drop("t_us")
    df.createOrReplaceTempView("ge_funnel")
    val viaSql = spark.sql(
      """SELECT user_id, graft_window_funnel(250, ts, event_id,
        |         etype = 'view', etype = 'click', etype = 'buy') AS level
        |FROM ge_funnel GROUP BY user_id""".stripMargin)
      .as[(Long, Int)].collect().toMap
    val viaColumn = graft.operators.Funnels.windowFunnel(df,
      Seq(col("etype") === "view", col("etype") === "click",
        col("etype") === "buy"), windowMicros = 250L)
      .as[(Long, Int)].collect().toMap
    assert(viaSql == viaColumn, s"sql=$viaSql column=$viaColumn")
    assert(viaSql(99L) == 0) // no step-1 event → level 0
    assert(viaSql.values.exists(_ >= 2), "test data should convert somewhere")
    // NULL timestamps are skipped, not folded
    spark.sql("""SELECT graft_window_funnel(250, CAST(NULL AS TIMESTAMP),
        |  1L, true) AS level""".stripMargin)
      .collect().head.getInt(0) match {
      case lvl => assert(lvl == 0)
    }
  }

  test("graft_sequence_match / graft_sequence_count from SQL ≡ Column operators") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, timestamp_micros}
    val rnd = new scala.util.Random(17)
    val evs = (0 until 50).flatMap { u =>
      (0 until (1 + rnd.nextInt(10))).map { j =>
        (u.toLong, (u * 100 + j).toLong, (rnd.nextInt(8) * 1000000L),
          Seq("view", "click", "buy", "other")(rnd.nextInt(4)))
      }
    }
    val df = evs.toDF("user_id", "event_id", "t_us", "etype")
      .withColumn("ts", timestamp_micros(col("t_us"))).drop("t_us")
    df.createOrReplaceTempView("ge_seq")
    val steps = Seq(col("etype") === "view", col("etype") === "click",
      col("etype") === "buy")
    val pat = "(?1)(?t<=3)(?2).*(?3)"
    val viaSqlM = spark.sql(
      s"""SELECT user_id, graft_sequence_match('$pat', ts, event_id,
         |  etype = 'view', etype = 'click', etype = 'buy') AS matched
         |FROM ge_seq GROUP BY user_id""".stripMargin)
      .as[(Long, Boolean)].collect().toMap
    val viaColM = graft.operators.Funnels.sequenceMatch(df, pat, steps)
      .as[(Long, Boolean)].collect().toMap
    // the Column form emits no row for users with no stored events; the
    // aggregate emits FALSE for them — equal on the common domain, and
    // the extras must all be false
    viaColM.foreach { case (u, m) => assert(viaSqlM(u) == m, s"user $u") }
    (viaSqlM.keySet -- viaColM.keySet).foreach(u => assert(!viaSqlM(u)))
    assert(viaColM.values.exists(identity) && viaColM.values.exists(!_),
      "test data should mix matches and non-matches")

    val patC = "(?1).*(?2)"
    val viaSqlC = spark.sql(
      s"""SELECT user_id, graft_sequence_count('$patC', ts, event_id,
         |  etype = 'view', etype = 'click', etype = 'buy') AS n_matches
         |FROM ge_seq GROUP BY user_id""".stripMargin)
      .as[(Long, Long)].collect().toMap
    val viaColC = graft.operators.Funnels
      .sequenceCountPattern(df, patC, steps)
      .as[(Long, Long)].collect().toMap
    viaColC.foreach { case (u, c) => assert(viaSqlC(u) == c, s"user $u") }
    (viaSqlC.keySet -- viaColC.keySet).foreach(u => assert(viaSqlC(u) == 0L))
    assert(viaColC.values.exists(_ >= 2L), "want a multi-match user")
    // bad pattern fails at PLAN time with the function's name
    val e = intercept[Exception](spark.sql(
      "SELECT graft_sequence_match('(?9)', ts, event_id, etype = 'view') " +
        "FROM ge_seq").collect())
    assert(e.getMessage.contains("pattern"), e.getMessage)
  }

  test("graft_ema from SQL is BIT-equal to TimeSeries.ema per key") {
    import spark.implicits._
    val rnd = new scala.util.Random(5772)
    val rows = (1 to 25).flatMap { k =>
      (1 to 4 + rnd.nextInt(15)).map { i =>
        (k.toLong, new java.sql.Timestamp(1700000000000L + rnd.nextInt(6) * 1000L),
          (k * 1000 + i).toLong, rnd.nextDouble() * 100.0 - 50.0)
      }
    }
    val df = rows.toDF("k", "ts", "id", "v")
    df.createOrReplaceTempView("ge_ema")
    // 0.3/0.7 is a NON-exact-binary pair — bit-equality here proves the
    // fold ops match, not just the constants
    val viaSql = spark.sql(
      "SELECT k, graft_ema(ts, id, v, 0.3d, 0.7d) FROM ge_ema GROUP BY k")
      .as[(Long, Double)].collect().toMap
    val viaCol = graft.operators.TimeSeries
      .ema(df, "k", "ts", "id", "v", alpha = 0.3, beta = 0.7)
      .selectExpr("k", "ema").as[(Long, Double)].collect().toMap
    assert(viaSql.keySet == viaCol.keySet)
    viaCol.foreach { case (k, e) =>
      assert(java.lang.Double.doubleToLongBits(viaSql(k)) ==
        java.lang.Double.doubleToLongBits(e), s"key $k")
    }
    // invalid constants rejected named
    val e = intercept[Exception](spark.sql(
      "SELECT graft_ema(ts, id, v, 1.5d, 0.7d) FROM ge_ema").collect())
    assert(e.getMessage.contains("alpha"), e.getMessage)
  }

  test("graft_delta_sum from SQL ≡ TimeSeries.deltaStats delta_sum per key") {
    import spark.implicits._
    val rnd = new scala.util.Random(1618)
    val rows = (1 to 30).flatMap { k =>
      (1 to 5 + rnd.nextInt(20)).map { i =>
        // coarse timestamps force same-ts ties broken by id
        (k.toLong, new java.sql.Timestamp(1700000000000L + rnd.nextInt(7) * 1000L),
          (k * 1000 + i).toLong, rnd.nextInt(200).toLong - 100L)
      }
    }
    val df = rows.toDF("k", "ts", "id", "v")
    df.createOrReplaceTempView("ge_ds")
    val viaSql = spark.sql(
      "SELECT k, graft_delta_sum(ts, id, v) FROM ge_ds GROUP BY k")
      .as[(Long, Long)].collect().toMap
    val viaDf = graft.operators.TimeSeries
      .deltaStats(df, "k", "ts", "id", "v")
      .selectExpr("k", "delta_sum").as[(Long, Long)].collect().toMap
    assert(viaSql == viaDf)
    // single-row key: no consecutive pair, delta_sum 0
    val single = spark.sql(
      """SELECT graft_delta_sum(ts, id, v)
        |FROM VALUES (TIMESTAMP '2024-01-01 00:00:00', 1L, 42L)
        |  AS t(ts, id, v)""".stripMargin).collect().head
    assert(single.getLong(0) == 0L)
  }

  test("graft_quantile_exact_weighted from SQL ≡ WeightedQuantile.exactWeighted") {
    import spark.implicits._
    val rnd = new scala.util.Random(2718)
    val rows = (1 to 400).map { i =>
      (i % 5L, rnd.nextInt(50).toLong, 1L + rnd.nextInt(9).toLong)
    } :+ ((0L, 999L, 100000L)) // whale weight dominates group 0's tail
    val df = rows.toDF("g", "v", "w")
    df.createOrReplaceTempView("ge_qw")
    val viaSql = spark.sql(
      """SELECT g, graft_quantile_exact_weighted(v, w, 0.5) AS p50,
        |  graft_quantile_exact_weighted(v, w, 0.9) AS p90,
        |  graft_quantile_exact_weighted(v, w, 0.0) AS p0,
        |  graft_quantile_exact_weighted(v, w, 1.0) AS p100
        |FROM ge_qw GROUP BY g""".stripMargin)
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4, t._5))).toMap
    val viaDf = graft.operators.WeightedQuantile.exactWeighted(
      df, Seq("g"), "v", "w", Seq(0, 50, 90, 100))
      .selectExpr("g", "p50", "p90", "p0", "p100")
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4, t._5))).toMap
    assert(viaSql.keySet == viaDf.keySet)
    viaDf.foreach { case (g, r) => assert(viaSql(g) == r, s"group $g") }
    // whale: group 0's p90 lands on the whale value
    assert(viaSql(0L)._2 == 999L)
    // null values / non-positive weights skip; all-skipped group is NULL
    val edge = spark.sql(
      """SELECT graft_quantile_exact_weighted(v, w, 0.5)
        |FROM VALUES (CAST(NULL AS BIGINT), 5L), (7L, 0L), (7L, -3L)
        |  AS t(v, w)""".stripMargin).collect().head
    assert(edge.isNullAt(0))
  }

  test("graft_window_funnel_strict from SQL ≡ Funnels.windowFunnelStrict " +
    "across mode combos on randomized tie-colliding journeys") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(20814)
    val types = Seq("view", "click", "buy", "noise")
    val rows = (1 to 40).flatMap { u =>
      (1 to 3 + rnd.nextInt(12)).map { i =>
        // coarse timestamps force same-ts ties; ids break them
        (u.toLong, new java.sql.Timestamp(1700000000000L + rnd.nextInt(6) * 1000L),
          (u * 100 + i).toLong, types(rnd.nextInt(types.length)))
      }
    }
    val df = rows.toDF("user_id", "ts", "event_id", "etype")
    df.createOrReplaceTempView("ge_strict")
    val steps = Seq(col("etype") === "view", col("etype") === "click",
      col("etype") === "buy")
    val combos = Seq(
      ("strict_deduplication", (true, false, false)),
      ("strict_order", (false, true, false)),
      ("strict_increase", (false, false, true)),
      ("strict_order,strict_increase", (false, true, true)))
    combos.foreach { case (modes, (d, o, inc)) =>
      val viaSql = spark.sql(
        s"""SELECT user_id, graft_window_funnel_strict(5000000, '$modes',
           |  ts, event_id, etype = 'view', etype = 'click', etype = 'buy')
           |FROM ge_strict GROUP BY user_id""".stripMargin)
        .as[(Long, Int)].collect().toMap
      val viaCol = graft.operators.Funnels.windowFunnelStrict(
        df, steps, 5000000L, strictDedup = d, strictOrder = o,
        strictIncrease = inc, tsCol = "ts")
        .as[(Long, Int)].collect().toMap
      assert(viaSql == viaCol, s"modes=$modes")
    }
    // unknown mode fails at PLAN time with the function's name
    val e = intercept[Exception](spark.sql(
      "SELECT graft_window_funnel_strict(1000, 'strict_typo', ts, event_id, " +
        "etype = 'view') FROM ge_strict").collect())
    assert(e.getMessage.contains("graft_window_funnel_strict"), e.getMessage)
  }

  test("graft_sequence_next_node from SQL ≡ Funnels.sequenceNextNode " +
    "across all four (direction, base) pairings") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    val rnd = new scala.util.Random(31415)
    val types = Seq("home", "view", "click", "buy", "exit")
    val rows = (1 to 40).flatMap { u =>
      (1 to 3 + rnd.nextInt(10)).map { i =>
        (u.toLong, new java.sql.Timestamp(1700000000000L + rnd.nextInt(8) * 1000L),
          (u * 100 + i).toLong, types(rnd.nextInt(types.length)))
      }
    }
    val df = rows.toDF("user_id", "ts", "event_id", "event_type")
    df.createOrReplaceTempView("ge_nn")
    val steps = Seq(col("event_type") === "view", col("event_type") === "click")
    val pairs = Seq(("forward", "head"), ("forward", "first_match"),
      ("backward", "tail"), ("backward", "last_match"))
    pairs.foreach { case (dir, base) =>
      val viaSql = spark.sql(
        s"""SELECT user_id, graft_sequence_next_node('$dir', '$base',
           |  ts, event_id, event_type, true,
           |  event_type = 'view', event_type = 'click')
           |FROM ge_nn GROUP BY user_id""".stripMargin)
        .as[(Long, Option[String])].collect().toMap
      val viaCol = graft.operators.Funnels.sequenceNextNode(
        df, dir, base, steps, baseCond = lit(true))
        .as[(Long, Option[String])].collect().toMap
      assert(viaSql == viaCol, s"dir=$dir base=$base")
    }
    // invalid pairing fails at PLAN time, named
    val e = intercept[Exception](spark.sql(
      "SELECT graft_sequence_next_node('forward', 'tail', ts, event_id, " +
        "event_type, true, event_type = 'view') FROM ge_nn").collect())
    assert(e.getMessage.contains("tail"), e.getMessage)
    // NULL-ts scope (the scaladoc's qualified claim, pinned): the SQL
    // aggregate DROPS null-ts rows — equivalent to the Column form on
    // the null-ts-FILTERED stream, not on the raw one (where null ts
    // sorts to a window end and can shift anchors)
    val nullTs = rows.take(60).map { case (u, ts, id, t) =>
      (u, Option(ts), id, t)
    } ++ (1 to 15).map(u => (u.toLong, None: Option[java.sql.Timestamp],
      9999L, "view"))
    val dfN = nullTs.toDF("user_id", "ts", "event_id", "event_type")
    dfN.createOrReplaceTempView("ge_nn_null")
    val viaSqlN = spark.sql(
      """SELECT user_id, graft_sequence_next_node('forward', 'head',
        |  ts, event_id, event_type, true,
        |  event_type = 'view', event_type = 'click')
        |FROM ge_nn_null GROUP BY user_id""".stripMargin)
      .as[(Long, Option[String])].collect().toMap
    val viaColFiltered = graft.operators.Funnels.sequenceNextNode(
      dfN.where(col("ts").isNotNull), "forward", "head", steps,
      baseCond = lit(true))
      .as[(Long, Option[String])].collect().toMap
    // compare on the users present in both (an all-null-ts user exists
    // only on the SQL side, where it reads NULL)
    viaColFiltered.foreach { case (u, v) =>
      assert(viaSqlN(u) == v, s"user $u")
    }
    viaSqlN.keySet.diff(viaColFiltered.keySet).foreach { u =>
      assert(viaSqlN(u).isEmpty, s"all-null-ts user $u must read NULL")
    }
  }

  test("ClickHouse URL family from SQL under its own names ≡ Column API") {
    import graft.functions.UrlFunctions
    import org.apache.spark.sql.functions.col
    val url = "https://user:pw@shop3.example.co.uk:8080/cat/2/item/7?q=5&ref=x#sec2"
    val r = spark.sql(
      s"""SELECT domain('$url') AS dom, netloc('$url') AS nl,
         |  topLevelDomain('$url') AS tld,
         |  firstSignificantSubdomain('$url') AS fsd,
         |  cutToFirstSignificantSubdomain('$url') AS cfsd,
         |  path('$url') AS p, queryString('$url') AS qs,
         |  fragment('$url') AS fr, extractURLParameter('$url', 'q') AS qv,
         |  cutQueryStringAndFragment('$url') AS cut,
         |  URLPathHierarchy('$url') AS ph, URLHierarchy('$url') AS uh
         |""".stripMargin).collect().head
    assert(r.getAs[String]("dom") == "shop3.example.co.uk")
    assert(r.getAs[String]("nl") == "user:pw@shop3.example.co.uk:8080")
    assert(r.getAs[String]("tld") == "uk")
    assert(r.getAs[String]("fsd") == "example")
    assert(r.getAs[String]("cfsd") == "example.co.uk")
    assert(r.getAs[String]("p") == "/cat/2/item/7")
    assert(r.getAs[String]("qs") == "q=5&ref=x")
    assert(r.getAs[String]("fr") == "sec2")
    assert(r.getAs[String]("qv") == "5")
    // SQL ≡ Column on a small corpus, every accessor at once
    import spark.implicits._
    val df = (1 to 20).map(i =>
      s"http://h$i.example.com/a/$i${if (i % 2 == 0) s"?q=$i" else ""}")
      .toDF("u")
    df.createOrReplaceTempView("ge_urls")
    val viaSql = spark.sql(
      """SELECT domain(u), path(u), queryString(u),
        |  extractURLParameter(u, 'q'), URLHierarchy(u)
        |FROM ge_urls""".stripMargin).collect().toSeq.map(_.toString)
    val viaCol = df.select(UrlFunctions.domain(col("u")),
      UrlFunctions.path(col("u")), UrlFunctions.queryString(col("u")),
      UrlFunctions.extractURLParameter(col("u"), "q"),
      UrlFunctions.urlHierarchy(col("u"))).collect().toSeq.map(_.toString)
    assert(viaSql == viaCol)
    // non-literal parameter name fails at PLAN time with the fn's name
    val e2 = intercept[Exception](spark.sql(
      "SELECT extractURLParameter(u, u) FROM ge_urls").collect())
    assert(e2.getMessage.contains("extractURLParameter"), e2.getMessage)
    // wrong arity fails at PLAN time with the fn's name (not a raw
    // IndexOutOfBounds / silent extra-arg drop)
    val e3 = intercept[Exception](spark.sql(
      "SELECT domain(u, u) FROM ge_urls").collect())
    assert(e3.getMessage.contains("domain"), e3.getMessage)
    val e4 = intercept[Exception](spark.sql(
      "SELECT extractURLParameter(u) FROM ge_urls").collect())
    assert(e4.getMessage.contains("extractURLParameter"), e4.getMessage)
  }

  test("studentTTest/welchTTest from SQL ≡ AbTests.tTests bit-for-bit, " +
    "NULL rows skip, all-invalid group degenerates") {
    import spark.implicits._
    val rnd = new scala.util.Random(1907)
    val rows = (1 to 300).map(i =>
      (if (i % 2 == 0) "a" else "b", rnd.nextInt(1000).toLong))
    val df = rows.toDF("variant", "v")
    df.createOrReplaceTempView("ge_tt")
    val viaSql = spark.sql(
      "SELECT r.* FROM (SELECT studentTTest(v, variant) AS r FROM ge_tt)")
      .collect().head
    val viaWelch = spark.sql(
      "SELECT r.* FROM (SELECT welchTTest(v, variant) AS r FROM ge_tt)")
      .collect().head
    val viaCol = graft.operators.AbTests.tTests(df, "variant", "v")
      .collect().head
    assert(viaSql.toString == viaCol.toString) // bit-equal doubles included
    assert(viaWelch.toString == viaCol.toString)
    // NULL value rows skip (explicit validity slot, no sentinel):
    // SQL-with-nulls ≡ Column-on-filtered
    val withNulls = rows.map { case (g, v) => (g, Some(v)) } ++
      Seq(("a", None), ("b", None))
    val dfn = withNulls.toDF("variant", "v")
    dfn.createOrReplaceTempView("ge_ttn")
    val viaSqlN = spark.sql(
      "SELECT r.* FROM (SELECT studentTTest(v, variant) AS r FROM ge_ttn)")
      .collect().head
    assert(viaSqlN.toString == viaCol.toString)
    // all-invalid group: zero-count degenerate row, not a crash
    val degen = spark.sql(
      """SELECT r.variant_a, r.n1, r.student_t FROM (
        |  SELECT studentTTest(v, variant) AS r
        |  FROM VALUES (CAST(NULL AS BIGINT), 'a') AS t(v, variant))"""
        .stripMargin).collect().head
    assert(degen.isNullAt(0) && degen.getLong(1) == 0L &&
      degen.getDouble(2).isNaN)
    // arity fails at PLAN time, named
    val e = intercept[Exception](spark.sql(
      "SELECT studentTTest(v) FROM ge_tt").collect())
    assert(e.getMessage.contains("studentTTest"), e.getMessage)
  }

  test("meanZTest from SQL ≡ AbTests.meanZTest bit-for-bit") {
    import spark.implicits._
    val rnd = new scala.util.Random(4242)
    val df = (1 to 200).map(i =>
      (if (i % 2 == 0) "x" else "y", rnd.nextInt(500).toLong))
      .toDF("variant", "v")
    df.createOrReplaceTempView("ge_mz")
    val viaSql = spark.sql(
      "SELECT r.* FROM (SELECT meanZTest(v, variant, 850000.0, 820000.0) AS r FROM ge_mz)")
      .collect().head
    val viaCol = graft.operators.AbTests.meanZTest(
      df, "variant", "v", 850000.0, 820000.0).collect().head
    assert(viaSql.toString == viaCol.toString)
  }

  test("mannWhitneyUTest from SQL ≡ AbTests.mannWhitney; a genuine " +
    "Long.MinValue value survives (no in-band sentinel)") {
    import spark.implicits._
    val rnd = new scala.util.Random(1947)
    // small value domain forces heavy ties; one legitimate extreme value
    val rows = (1 to 400).map(i =>
      ((i % 2).toLong, rnd.nextInt(12).toLong)) :+ ((0L, Long.MinValue))
    val df = rows.toDF("variant", "v")
    df.createOrReplaceTempView("ge_mw")
    val viaSql = spark.sql(
      "SELECT r.* FROM (SELECT mannWhitneyUTest(v, variant) AS r FROM ge_mw)")
      .as[(Long, Long, Long, Long)].collect().head
    val viaCol = graft.operators.AbTests.mannWhitney(df, "variant", "v")
      .as[(Long, Long, Long, Long)].collect().head
    assert(viaSql == viaCol)
    // the MinValue row is IN the counts (201 + 200 rows)
    assert(viaSql._1 == 201L && viaSql._2 == 200L)
    // self-validating identity: U1 + U2 = n1*n2 (doubled)
    assert(viaSql._3 + viaSql._4 == 2L * viaSql._1 * viaSql._2)
  }

  test("simpleLinearRegression from SQL ≡ Stats.simpleLinReg per group") {
    import spark.implicits._
    val rnd = new scala.util.Random(1805)
    val df = (1 to 300).map { i =>
      val x = rnd.nextInt(100).toLong
      (s"g${i % 3}", x, 3L * x + rnd.nextInt(40).toLong)
    }.toDF("grp", "x", "y")
    df.createOrReplaceTempView("ge_lr")
    val viaSql = spark.sql(
      """SELECT grp, r.* FROM (
        |  SELECT grp, simpleLinearRegression(x, y) AS r
        |  FROM ge_lr GROUP BY grp)""".stripMargin)
      .collect().map(r => r.getString(0) -> r.toString).toMap
    val viaCol = graft.operators.Stats.simpleLinReg(df, "grp", "x", "y")
      .collect().map(r => r.getString(0) -> r.toString).toMap
    assert(viaSql == viaCol)
  }

  test("cramersV / cramersVBiasCorrected from SQL ≡ Stats.contingencyStats") {
    import spark.implicits._
    val rnd = new scala.util.Random(1946)
    val df = (1 to 500).map { _ =>
      val a = s"a${rnd.nextInt(4)}"
      // correlated: b leans on a
      val b = if (rnd.nextInt(3) == 0) s"b${rnd.nextInt(5)}"
        else s"b${a.last.toString.toInt % 5}"
      (a, b)
    }.toDF("a", "b")
    df.createOrReplaceTempView("ge_cv")
    val viaSql = spark.sql(
      "SELECT r.* FROM (SELECT cramersV(a, b) AS r FROM ge_cv)")
      .collect().head
    val viaBc = spark.sql(
      "SELECT r.* FROM (SELECT cramersVBiasCorrected(a, b) AS r FROM ge_cv)")
      .collect().head
    val viaCol = graft.operators.Stats.contingencyStats(df, "a", "b")
      .collect().head
    assert(viaSql.toString == viaCol.toString) // quantized χ² ⇒ exact
    assert(viaBc.toString == viaCol.toString)
  }

  test("rankCorr from SQL ≡ Stats.spearman on a tie-heavy domain") {
    import spark.implicits._
    val rnd = new scala.util.Random(1904)
    val df = (1 to 200).map { _ =>
      val x = rnd.nextInt(15).toLong
      (x, x / 2 + rnd.nextInt(8).toLong) // monotone-ish with ties both axes
    }.toDF("x", "y")
    df.createOrReplaceTempView("ge_rc")
    val viaSql = spark.sql(
      "SELECT r.* FROM (SELECT rankCorr(x, y) AS r FROM ge_rc)")
      .collect().head
    val viaCol = graft.operators.Stats.spearman(df, "x", "y").collect().head
    assert(viaSql.toString == viaCol.toString)
  }

  test("sumMap/minMap/maxMap from SQL ≡ MapCombinators.aggMaps, keys " +
    "ascending, NULL maps skip") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(66)
    val df = (1 to 200).map { i =>
      (i % 4, Map(s"k${rnd.nextInt(5)}" -> rnd.nextInt(100).toLong,
        s"k${rnd.nextInt(5)}" -> rnd.nextInt(100).toLong))
    }.toDF("g", "m")
    df.createOrReplaceTempView("ge_maps")
    val viaSql = spark.sql(
      """SELECT g, sumMap(m) AS sm, minMap(m) AS mn, maxMap(m) AS mx
        |FROM ge_maps GROUP BY g""".stripMargin)
      .as[(Int, Map[String, Long], Map[String, Long], Map[String, Long])]
      .collect().map(t => t._1 -> ((t._2, t._3, t._4))).toMap
    val viaCol = graft.operators.MapCombinators.aggMaps(df, Seq("g"), "m")
      .selectExpr("g", "sum_map", "min_map", "max_map")
      .as[(Int, Map[String, Long], Map[String, Long], Map[String, Long])]
      .collect().map(t => t._1 -> ((t._2, t._3, t._4))).toMap
    assert(viaSql == viaCol)
    // keys come out ascending (the array_sort reassembly order)
    val keys = spark.sql("SELECT map_keys(sumMap(m)) FROM ge_maps")
      .as[Seq[String]].collect().head
    assert(keys == keys.sorted)
    // NULL maps skip
    val withNull = spark.sql(
      """SELECT sumMap(m) FROM VALUES
        |  (map('a', 1L)), (CAST(NULL AS MAP<STRING, BIGINT>)),
        |  (map('a', 2L)) AS t(m)""".stripMargin)
      .as[Map[String, Long]].collect().head
    assert(withNull == Map("a" -> 3L))
  }

  test("arrayAUC from SQL ≡ AbTests.auc bit-for-bit; one-class gives NaN") {
    import spark.implicits._
    val rnd = new scala.util.Random(90)
    // tie-heavy scores so the average-rank path is exercised
    val rows = (1 to 300).map(_ =>
      (rnd.nextInt(20).toLong, (rnd.nextInt(2)).toLong))
    val df = rows.toDF("score", "label")
    df.createOrReplaceTempView("ge_auc")
    val viaSql = spark.sql(
      """SELECT arrayAUC(collect_list(score), collect_list(label))
        |FROM ge_auc""".stripMargin).as[Double].collect().head
    val viaCol = graft.operators.AbTests.auc(df, "label", "score")
      .selectExpr("auc").as[Double].collect().head
    assert(java.lang.Double.doubleToRawLongBits(viaSql) ==
      java.lang.Double.doubleToRawLongBits(viaCol))
    // Column-form arrayAuc kernel too (the registry wraps this)
    val viaKernel = df.agg(org.apache.spark.sql.functions
        .collect_list("score").as("s"),
      org.apache.spark.sql.functions.collect_list("label").as("l"))
      .select(graft.operators.AbTests.arrayAuc(
        org.apache.spark.sql.functions.col("s"),
        org.apache.spark.sql.functions.col("l")).as("auc"))
      .as[Double].collect().head
    assert(java.lang.Double.doubleToRawLongBits(viaKernel) ==
      java.lang.Double.doubleToRawLongBits(viaCol))
    // one-class arrays: NULL (Spark/DuckDB divide-by-zero semantics —
    // the Column form reads the same), not a crash
    val oneClass = spark.sql(
      "SELECT arrayAUC(array(1L, 2L, 3L), array(1L, 1L, 1L))")
      .collect().head
    assert(oneClass.isNullAt(0))
  }

  test("largestTriangleThreeBuckets from SQL ≡ Lttb.downsample per key, " +
    "pass-through for short series") {
    import spark.implicits._
    val rnd = new scala.util.Random(2013)
    val rows = (1 to 8).flatMap { k =>
      // key 1 gets a SHORT series (≤ threshold: pass-through leg)
      val n = if (k == 1) 7 else 40 + rnd.nextInt(60)
      (1 to n).map(i =>
        (k.toLong, i.toLong * 10, rnd.nextInt(2000).toLong))
    }
    val df = rows.toDF("k", "x", "y")
    df.createOrReplaceTempView("ge_lttb")
    val viaSql = spark.sql(
      """SELECT k, p.x, p.y FROM (
        |  SELECT k, largestTriangleThreeBuckets(12, x, y) AS pts
        |  FROM ge_lttb GROUP BY k)
        |LATERAL VIEW explode(pts) AS p""".stripMargin)
      .as[(Long, Long, Long)].collect().sorted.toSeq
    val viaCol = graft.operators.Lttb.downsample(df, "k", "x", "y", 12)
      .as[(Long, Long, Long)].collect().sorted.toSeq
    assert(viaSql == viaCol)
    // the short key passed through whole
    assert(viaSql.count(_._1 == 1L) == 7)
  }

  test("kolmogorovSmirnovTest from SQL ≡ Stats.ksTest bit-for-bit; " +
    "one-sample group degenerates to NaN; named arity error") {
    import spark.implicits._
    val rnd = new scala.util.Random(1933)
    // small value domain forces the cumulative walk over heavy ties
    val rows = (1 to 500).map(i => ((i % 2).toLong, rnd.nextInt(40).toLong))
    val df = rows.toDF("g", "v")
    df.createOrReplaceTempView("ge_ks")
    val viaSql = spark.sql(
      "SELECT r.* FROM (SELECT kolmogorovSmirnovTest(v, g) AS r FROM ge_ks)")
      .collect().head
    val viaCol = graft.operators.Stats.ksTest(df, "g", "v").collect().head
    assert(viaSql.toString == viaCol.toString) // includes the double D
    // only sample 1 present: d = m / (n1*0) = 0/0 = NaN, no crash
    val degen = spark.sql(
      """SELECT r.n1, r.n2, r.d FROM (
        |  SELECT kolmogorovSmirnovTest(v, g) AS r
        |  FROM VALUES (1L, 0L), (2L, 0L) AS t(v, g))""".stripMargin)
      .collect().head
    assert(degen.getLong(0) == 2L && degen.getLong(1) == 0L &&
      degen.getDouble(2).isNaN)
    val e = intercept[Exception](spark.sql(
      "SELECT kolmogorovSmirnovTest(v) FROM ge_ks").collect())
    assert(e.getMessage.contains("kolmogorovSmirnovTest"), e.getMessage)
  }

  test("analysisOfVariance / anova from SQL ≡ Stats.anovaF bit-for-bit " +
    "(CH argument order: value first)") {
    import spark.implicits._
    val rnd = new scala.util.Random(1918)
    val rows = (1 to 600).map { i =>
      val g = s"g${i % 5}"
      (g, (rnd.nextInt(200) + (i % 5) * 30).toLong)
    }
    val df = rows.toDF("grp", "v")
    df.createOrReplaceTempView("ge_anova")
    val viaSql = spark.sql(
      "SELECT r.* FROM (SELECT analysisOfVariance(v, grp) AS r FROM ge_anova)")
      .collect().head
    val viaAlias = spark.sql(
      "SELECT r.* FROM (SELECT anova(v, grp) AS r FROM ge_anova)")
      .collect().head
    val viaCol = graft.operators.Stats.anovaF(df, "grp", "v").collect().head
    assert(viaSql.toString == viaCol.toString)
    assert(viaAlias.toString == viaCol.toString)
  }

  test("corrMatrix from SQL ≡ Stats.corrMatrix element-by-element; " +
    "diagonal 1.0; constant column NaN row") {
    import spark.implicits._
    val rnd = new scala.util.Random(1895)
    val rows = (1 to 400).map { i =>
      val x0 = rnd.nextInt(100).toLong
      (x0, x0 * 2 + rnd.nextInt(10), rnd.nextInt(50).toLong)
    }
    val df = rows.toDF("x0", "x1", "x2")
    df.createOrReplaceTempView("ge_cm")
    val viaSql = spark.sql(
      """SELECT r.n, r.corr[0][1] AS corr_0_1, r.corr[0][2] AS corr_0_2,
        |       r.corr[1][2] AS corr_1_2, r.corr[1][0] AS sym,
        |       r.corr[0][0] AS diag
        |FROM (SELECT corrMatrix(x0, x1, x2) AS r FROM ge_cm)""".stripMargin)
      .collect().head
    val viaCol = graft.operators.Stats.corrMatrix(df, Seq("x0", "x1", "x2"))
      .collect().head
    assert(viaSql.getLong(0) == viaCol.getLong(0))
    assert(viaSql.getDouble(1) == viaCol.getDouble(1)) // corr_0_1 bit-equal
    assert(viaSql.getDouble(2) == viaCol.getDouble(2))
    assert(viaSql.getDouble(3) == viaCol.getDouble(3))
    assert(viaSql.getDouble(4) == viaSql.getDouble(1)) // symmetric
    assert(viaSql.getDouble(5) == 1.0) // diagonal from the same formula
    // a constant column yields NaN correlations (den = 0), 2-arg min arity
    val const = spark.sql(
      """SELECT r.corr[0][1] AS c FROM (
        |  SELECT corrMatrix(x, y) AS r
        |  FROM VALUES (1L, 5L), (2L, 5L), (3L, 5L) AS t(x, y))""".stripMargin)
      .collect().head
    assert(const.getDouble(0).isNaN)
    val e = intercept[Exception](spark.sql(
      "SELECT corrMatrix(x0) FROM ge_cm").collect())
    assert(e.getMessage.contains("corrMatrix"), e.getMessage)
  }

  test("intervalLengthSum/maxIntersections/maxIntersectionsPosition from " +
    "SQL ≡ TimeSeries.intervalStats per key; all-NULL group degenerates") {
    import spark.implicits._
    val rnd = new scala.util.Random(1848)
    // overlapping, touching, nested, and duplicate intervals per key
    val rows = (1 to 8).flatMap { k =>
      (1 to 60).map { i =>
        val s = rnd.nextInt(500).toLong
        (k.toLong, i.toLong, s, s + 1 + rnd.nextInt(40).toLong)
      }
    } ++ Seq((9L, 1L, 100L, 120L), (9L, 2L, 100L, 120L)) // exact duplicates
    val df = rows.toDF("k", "id", "s", "e")
    df.createOrReplaceTempView("ge_iv")
    val viaSql = spark.sql(
      """SELECT k, r.n_intervals, r.union_len, r.max_overlap,
        |       r.max_overlap_pos
        |FROM (SELECT k, intervalLengthSum(s, e) AS r FROM ge_iv GROUP BY k)"""
        .stripMargin)
      .as[(Long, Long, Long, Long, Long)].collect().sorted.toSeq
    val viaCol = graft.operators.TimeSeries.intervalStats(df, "k", "s", "e", "id")
      .select($"k", $"n_intervals", $"union_len", $"max_overlap",
        $"max_overlap_pos")
      .as[(Long, Long, Long, Long, Long)].collect().sorted.toSeq
    assert(viaSql == viaCol)
    // the three names are one aggregate returning the evidence struct
    val same = spark.sql(
      """SELECT k, intervalLengthSum(s, e) = maxIntersections(s, e)
        |         AND maxIntersections(s, e) = maxIntersectionsPosition(s, e)
        |           AS eq
        |FROM ge_iv GROUP BY k""".stripMargin).collect()
    assert(same.forall(_.getBoolean(1)))
    // all-NULL group: (0, 0, 0, NULL)
    val degen = spark.sql(
      """SELECT r.* FROM (SELECT intervalLengthSum(s, e) AS r
        |  FROM VALUES (CAST(NULL AS BIGINT), 5L) AS t(s, e))""".stripMargin)
      .collect().head
    assert(degen.getLong(0) == 0L && degen.getLong(1) == 0L &&
      degen.getLong(2) == 0L && degen.isNullAt(3))
  }

  test("sparkbar from SQL ≡ the q89 Column composition (mx + unicode bar)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(1854)
    val daily = (1 to 6).flatMap { m =>
      (1 to 28).map(d => (s"2024-0$m", d.toLong, (1 + rnd.nextInt(400)).toLong))
    }
    val df = daily.toDF("month", "day", "n")
    df.createOrReplaceTempView("ge_sb")
    val viaSql = spark.sql(
      """SELECT month, r.mx, r.bar
        |FROM (SELECT month, sparkbar(day, n) AS r FROM ge_sb GROUP BY month)"""
        .stripMargin)
      .as[(String, Long, String)].collect().sorted.toSeq
    val viaCol = df.groupBy(col("month"))
      .agg(max(col("n")).as("mx"),
        array_sort(collect_list(struct(col("day"), col("n")))).as("days"))
      .select(col("month"), col("mx"),
        array_join(transform(col("days"), e =>
          substr(lit("▁▂▃▄▅▆▇█"),
            (floor((e.getField("n") * 7L).cast("double") /
              col("mx").cast("double")) + 1L).cast("int"), lit(1))),
          "").as("bar"))
      .as[(String, Long, String)].collect().sorted.toSeq
    assert(viaSql == viaCol)
    // every bar covers the full ramp contract: 28 glyphs, max glyph = █
    assert(viaSql.forall(_._3.length == 28))
    assert(viaSql.forall(_._3.contains("█")))
  }

  test("uniqTheta from SQL: exact below sketch capacity (== count " +
    "distinct), BIGINT, per-group; named arity error") {
    import spark.implicits._
    val rnd = new scala.util.Random(1777)
    val rows = (1 to 3000).map(i => (s"g${i % 3}", rnd.nextInt(900).toLong))
    val df = rows.toDF("g", "v")
    df.createOrReplaceTempView("ge_ut")
    val viaSql = spark.sql(
      """SELECT g, uniqTheta(v) AS u FROM ge_ut GROUP BY g""")
      .as[(String, Long)].collect().sorted.toSeq
    val exact = spark.sql(
      "SELECT g, count(DISTINCT v) AS u FROM ge_ut GROUP BY g")
      .as[(String, Long)].collect().sorted.toSeq
    assert(viaSql == exact) // < 4096 distinct per group: exact regime
    val e = intercept[Exception](spark.sql(
      "SELECT uniqTheta(v, g) FROM ge_ut").collect())
    assert(e.getMessage.contains("uniqTheta"), e.getMessage)
  }

  test("geohashEncode/geohashDecode from SQL ≡ GeoFunctions columns " +
    "(CH argument order: longitude first); round-trip; named errors") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(2008)
    val pts = (1 to 200).map(_ =>
      (rnd.nextDouble() * 180 - 90, rnd.nextDouble() * 360 - 180))
    val df = pts.toDF("lat", "lon")
    df.createOrReplaceTempView("ge_geo")
    val viaSql = spark.sql(
      "SELECT geohashEncode(lon, lat, 6) AS gh FROM ge_geo")
      .as[String].collect().toSeq
    val viaCol = df.select(
      graft.functions.GeoFunctions.geohashEncode(col("lat"), col("lon"), 6)
        .as("gh")).as[String].collect().toSeq
    assert(viaSql == viaCol)
    // default precision 12; decode returns the cell center as a struct
    // in CH order, and re-encoding the center reproduces the hash
    val rt = spark.sql(
      """SELECT gh, geohashEncode(d.longitude, d.latitude, 6) AS gh2
        |FROM (SELECT geohashEncode(lon, lat, 6) AS gh,
        |             geohashDecode(geohashEncode(lon, lat, 6), 6) AS d
        |      FROM ge_geo)""".stripMargin).collect()
    assert(rt.forall(r => r.getString(0) == r.getString(1)))
    val d12 = spark.sql(
      "SELECT length(geohashEncode(lon, lat)) AS l FROM ge_geo LIMIT 1")
      .collect().head
    assert(d12.getInt(0) == 12)
    val e = intercept[Exception](spark.sql(
      "SELECT geohashDecode('ezs42') FROM ge_geo").collect())
    assert(e.getMessage.contains("geohashDecode"), e.getMessage)
  }

  test("ngramDistance/ngramSearch from SQL ≡ FuzzyMatch.ngramMatch " +
    "statistics bit-for-bit; literal-needle contract enforced") {
    import spark.implicits._
    val docs = Seq("the fast table value store", "a slow list", "fast table",
      "completely unrelated text", "value fast table value").zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    val df = docs.toDF("id", "text")
    df.createOrReplaceTempView("ge_ng")
    val viaSql = spark.sql(
      """SELECT id, ngramDistance(text, 'fast table value') AS dist,
        |       ngramSearch(text, 'fast table value') AS search
        |FROM ge_ng""".stripMargin)
      .as[(Long, Double, Double)].collect().sortBy(_._1).toSeq
    val viaCol = graft.functions.FuzzyMatch.ngramMatch(
      df, "text", "fast table value", n = 4)
      .select($"id", $"dist", $"search")
      .as[(Long, Double, Double)].collect().sortBy(_._1).toSeq
    assert(viaSql == viaCol)
    // identical profile → 0 distance; full needle present → search 1.0
    val self = viaSql.find(_._1 == 4L).get
    assert(self._3 == 1.0)
    // needle must be a literal of >= n chars, named at plan time
    val e = intercept[Exception](spark.sql(
      "SELECT ngramDistance(text, 'abc') FROM ge_ng").collect())
    assert(e.getMessage.contains("needle") ||
      e.getMessage.contains("ngramDistance"), e.getMessage)
  }

  test("seriesOutliersDetectTukey from SQL ≡ plain integer reference; " +
    "empty/constant series; agrees with the q92 fence predicate") {
    import spark.implicits._
    // the q92/tukeyScores8 integer algebra as a scalar reference
    def refScores(a: Seq[Long]): Seq[Long] = {
      if (a.isEmpty) return Seq.empty
      val s = a.sorted
      val n = a.size.toLong
      def quart4(numer: Long): Long = {
        val rem = numer % 4
        val lo = (numer - rem) / 4
        val aLo = s(lo.toInt)
        val aHi = s(math.min(lo + 1, n - 1).toInt)
        4 * aLo + rem * (aHi - aLo)
      }
      val q14 = quart4(n - 1)
      val q34 = quart4(3 * (n - 1))
      val lo8 = 2 * q14 - 3 * (q34 - q14)
      val hi8 = 2 * q34 + 3 * (q34 - q14)
      a.map(x =>
        if (8 * x < lo8) 8 * x - lo8
        else if (8 * x > hi8) 8 * x - hi8
        else 0L)
    }
    val rnd = new scala.util.Random(1977)
    val rows = (1 to 60).map { i =>
      val n = rnd.nextInt(50) // includes 0 (empty) and tiny series
      val base = Seq.fill(n)(rnd.nextInt(200).toLong)
      // plant whales on some rows so outliers actually occur
      val a = if (i % 3 == 0 && n > 4) base :+ 5000L :+ -4000L else base
      (i.toLong, a)
    } :+ (997L, Seq.fill(8)(42L)) // constant series: iqr 0, all inlier 0
    val df = rows.toDF("id", "arr")
    df.createOrReplaceTempView("ge_tk")
    val viaSql = spark.sql(
      "SELECT id, seriesOutliersDetectTukey(arr) AS s FROM ge_tk")
      .as[(Long, Seq[Long])].collect().toMap
    rows.foreach { case (id, a) =>
      assert(viaSql(id) == refScores(a), s"id=$id arr=$a")
    }
    assert(viaSql(997L).forall(_ == 0L))
    // nonzero score ⟺ the q92 outlier predicate fires
    rows.filter(_._2.nonEmpty).foreach { case (id, a) =>
      val nOut = viaSql(id).count(_ != 0L)
      val s = a.sorted
      val n = a.size.toLong
      def quart4(numer: Long): Long = {
        val rem = numer % 4; val lo = (numer - rem) / 4
        4 * s(lo.toInt) + rem * (s(math.min(lo + 1, n - 1).toInt) - s(lo.toInt))
      }
      val (q14, q34) = (quart4(n - 1), quart4(3 * (n - 1)))
      val iqr4 = q34 - q14
      val expect = a.count(x =>
        8 * x < 2 * q14 - 3 * iqr4 || 8 * x > 2 * q34 + 3 * iqr4)
      assert(nOut == expect, s"id=$id")
    }
    val e = intercept[Exception](spark.sql(
      "SELECT seriesOutliersDetectTukey(arr, 0.1) FROM ge_tk").collect())
    assert(e.getMessage.contains("seriesOutliersDetectTukey"), e.getMessage)
  }

  test("IPv4 family from SQL ≡ IpFunctions columns: render/parse " +
    "round-trip, string-or-numeric range args, CIDR block bounds") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(1969)
    val ips = (1 to 300).map(_ => rnd.nextLong().abs % 4294967296L)
    val df = ips.toDF("ip")
    df.createOrReplaceTempView("ge_ip")
    val viaSql = spark.sql(
      "SELECT ip, IPv4NumToString(ip) AS s, " +
        "IPv4StringToNum(IPv4NumToString(ip)) AS back FROM ge_ip")
      .as[(Long, String, Long)].collect().sorted.toSeq
    val viaCol = df.select($"ip",
      graft.functions.IpFunctions.ipv4NumToString($"ip").as("s"),
      graft.functions.IpFunctions.ipv4StringToNum(
        graft.functions.IpFunctions.ipv4NumToString($"ip")).as("back"))
      .as[(Long, String, Long)].collect().sorted.toSeq
    assert(viaSql == viaCol)
    assert(viaSql.forall(r => r._1 == r._3)) // round-trip total
    // range check accepts BOTH the numeric and the dotted-string form
    val both = spark.sql(
      """SELECT isIPAddressInRange(ip, '10.0.0.0/8') AS a,
        |       isIPAddressInRange(IPv4NumToString(ip), '10.0.0.0/8') AS b,
        |       isIPAddressInRange('10.1.2.3', '10.0.0.0/8') AS c
        |FROM ge_ip""".stripMargin).collect()
    assert(both.forall(r => r.getBoolean(0) == r.getBoolean(1)))
    assert(both.head.getBoolean(2))
    // toIPv4 alias; CIDR block bounds: min = masked base, max = min + 2^(32-n) - 1
    val rng = spark.sql(
      """SELECT toIPv4('192.168.5.7') AS num,
        |       IPv4CIDRToRange(ip, 16).min AS lo,
        |       IPv4CIDRToRange(ip, 16).max AS hi, ip
        |FROM ge_ip""".stripMargin).collect()
    assert(rng.head.getLong(0) == (192L << 24 | 168L << 16 | 5L << 8 | 7L))
    assert(rng.forall { r =>
      val (lo, hi, ip) = (r.getLong(1), r.getLong(2), r.getLong(3))
      lo == (ip & 0xffff0000L) && hi == lo + 65535L && ip >= lo && ip <= hi
    })
    val e = intercept[Exception](spark.sql(
      "SELECT IPv4CIDRToRange(ip) FROM ge_ip").collect())
    assert(e.getMessage.contains("IPv4CIDRToRange"), e.getMessage)
  }

  test("ngramDistance/SearchCaseInsensitive ≡ lower-wrapped base forms") {
    import spark.implicits._
    val df = Seq((1L, "The FAST Table VALUE store"), (2L, "unrelated"))
      .toDF("id", "text")
    df.createOrReplaceTempView("ge_ngci")
    val ci = spark.sql(
      """SELECT id, ngramDistanceCaseInsensitive(text, 'Fast TABLE value') AS d,
        |       ngramSearchCaseInsensitive(text, 'Fast TABLE value') AS s
        |FROM ge_ngci""".stripMargin)
      .as[(Long, Double, Double)].collect().sorted.toSeq
    val base = spark.sql(
      """SELECT id, ngramDistance(lower(text), 'fast table value') AS d,
        |       ngramSearch(lower(text), 'fast table value') AS s
        |FROM ge_ngci""".stripMargin)
      .as[(Long, Double, Double)].collect().sorted.toSeq
    assert(ci == base)
    assert(ci.head._3 == 1.0) // full needle present case-insensitively
  }

  test("ClickHouse aggregate aliases rewrite onto Spark built-ins: " +
    "uniqExact/uniq, -If family, argMin/argMax, groupArray/UniqArray, " +
    "quantileExact") {
    import spark.implicits._
    val rnd = new scala.util.Random(1903)
    val rows = (1 to 500).map(i =>
      (s"g${i % 3}", i.toLong, rnd.nextInt(100).toLong))
    rows.toDF("g", "k", "v").createOrReplaceTempView("ge_al")
    val via = spark.sql(
      """SELECT g, uniqExact(v) AS a, countIf(v > 50) AS b,
        |  sumIf(v, v > 50) AS c, avgIf(v, v > 50) AS d,
        |  minIf(v, v > 50) AS e2, maxIf(v, v > 50) AS f,
        |  argMin(v, k) AS am, argMax(v, k) AS ax,
        |  size(groupArray(v)) AS ga,
        |  array_join(array_sort(groupUniqArray(v)), ',') AS gu,
        |  quantileExact(v, 0.5) AS p50, uniq(v) AS u
        |FROM ge_al GROUP BY g""".stripMargin)
    val base = spark.sql(
      """SELECT g, count(DISTINCT v) AS a,
        |  count(1) FILTER (WHERE v > 50) AS b,
        |  sum(v) FILTER (WHERE v > 50) AS c,
        |  avg(v) FILTER (WHERE v > 50) AS d,
        |  min(v) FILTER (WHERE v > 50) AS e2,
        |  max(v) FILTER (WHERE v > 50) AS f,
        |  min_by(v, k) AS am, max_by(v, k) AS ax,
        |  size(collect_list(v)) AS ga,
        |  array_join(array_sort(collect_set(v)), ',') AS gu,
        |  try_element_at(array_sort(collect_list(v)),
        |    CAST(least(floor(0.5 * count(v)) + 1, count(v)) AS INT)) AS p50,
        |  approx_count_distinct(v) AS u
        |FROM ge_al GROUP BY g""".stripMargin)
    assert(via.collect().map(_.toString).sorted.toSeq ==
      base.collect().map(_.toString).sorted.toSeq)
    // all-filtered-out group: countIf 0, the value -Ifs NULL
    val degen = spark.sql(
      """SELECT countIf(v > 99), sumIf(v, v > 99)
        |FROM VALUES (1L), (2L) AS t(v)""".stripMargin).collect().head
    assert(degen.getLong(0) == 0L && degen.isNullAt(1))
    val e = intercept[Exception](spark.sql(
      "SELECT sumIf(v) FROM ge_al").collect())
    assert(e.getMessage.contains("sumIf"), e.getMessage)
  }

  test("ClickHouse date-function names: toStartOf*/parts rewrites, " +
    "Monday-based toDayOfWeek, toYYYYMM arithmetic, formatDateTime " +
    "translation with named rejections") {
    import spark.implicits._
    val df = Seq("2024-08-12 13:45:30", "2023-12-31 23:59:59",
      "2024-01-01 00:00:00", "2024-02-29 07:05:00")
      .toDF("s").selectExpr("CAST(s AS TIMESTAMP) AS ts")
    df.createOrReplaceTempView("ge_dt")
    val r = spark.sql(
      """SELECT CAST(toStartOfHour(ts) AS STRING) AS soh,
        |  CAST(toStartOfMonth(ts) AS STRING) AS som,
        |  toHour(ts) AS h, toDayOfWeek(ts) AS dow,
        |  toYYYYMM(ts) AS ym, toYYYYMMDD(ts) AS ymd,
        |  toYear(ts) AS y, toUnixTimestamp(ts) AS ux,
        |  CAST(toDate(ts) AS STRING) AS d,
        |  formatDateTime(ts, '%Y-%m-%dT%H:%i:%S') AS f,
        |  formatDateTime(ts, '%F %T') AS ft,
        |  formatDateTime(ts, '100%% at %H') AS fp
        |FROM ge_dt ORDER BY ts""".stripMargin).collect()
    val first = r(1) // 2024-01-01 00:00:00 (Monday)
    assert(first.getString(0) == "2024-01-01 00:00:00")
    assert(first.getString(1) == "2024-01-01 00:00:00")
    assert(first.getInt(3) == 1) // Monday = 1, the CH convention
    assert(first.getInt(4) == 202401 && first.getInt(5) == 20240101)
    assert(first.getString(9) == "2024-01-01T00:00:00")
    assert(first.getString(10) == "2024-01-01 00:00:00")
    assert(first.getString(11) == "100% at 00")
    val sun = r(0) // 2023-12-31 (Sunday)
    assert(sun.getInt(3) == 7) // Sunday = 7
    assert(sun.getInt(4) == 202312 && sun.getInt(5) == 20231231)
    val aug = r.find(_.getInt(2) == 13).get // 2024-08-12 (Monday) 13:45
    assert(aug.getString(9) == "2024-08-12T13:45:30")
    // %M rejected by NAME with guidance; unknown spec rejected
    val eM = intercept[Exception](spark.sql(
      "SELECT formatDateTime(ts, '%H:%M') FROM ge_dt").collect())
    assert(eM.getMessage.contains("%i"), eM.getMessage)
    val eU = intercept[Exception](spark.sql(
      "SELECT formatDateTime(ts, '%Q') FROM ge_dt").collect())
    assert(eU.getMessage.contains("unsupported"), eU.getMessage)
  }

  test("JSONExtract family: key/1-based-index paths, CH missing-value " +
    "defaults, named rejections for bad steps") {
    val df = spark.sql(
      """SELECT '{"a":{"k":42,"s":"hi","f":1.5,"t":true},
        |"arr":[10,20,30]}' AS j""".stripMargin.replace("\n", ""))
    df.createOrReplaceTempView("ge_js")
    val r = spark.sql(
      """SELECT JSONExtractInt(j, 'a', 'k') AS ak,
        |  JSONExtractString(j, 'a', 's') AS s,
        |  JSONExtractFloat(j, 'a', 'f') AS f,
        |  JSONExtractBool(j, 'a', 't') AS t,
        |  JSONExtractInt(j, 'arr', 2) AS a2,
        |  JSONExtractInt(j, 'missing') AS m0,
        |  JSONExtractString(j, 'missing') AS ms,
        |  JSONExtractBool(j, 'missing') AS mb,
        |  JSONHas(j, 'a', 'k') AS h1, JSONHas(j, 'zzz') AS h0,
        |  JSONExtractRaw(j, 'a') AS raw
        |FROM ge_js""".stripMargin).collect().head
    assert(r.getLong(0) == 42L)
    assert(r.getString(1) == "hi")
    assert(r.getDouble(2) == 1.5)
    assert(r.getBoolean(3))
    assert(r.getLong(4) == 20L) // 1-based index 2 = second element
    assert(r.getLong(5) == 0L && r.getString(6) == "" && !r.getBoolean(7))
    assert(r.getBoolean(8) && !r.getBoolean(9))
    assert(r.getString(10).contains("\"k\":42"))
    // zero/negative index and non-literal step rejected by NAME
    val e0 = intercept[Exception](spark.sql(
      "SELECT JSONExtractInt(j, 'arr', 0) FROM ge_js").collect())
    assert(e0.getMessage.contains("1-based"), e0.getMessage)
    val eK = intercept[Exception](spark.sql(
      "SELECT JSONExtractInt(j, 'a.b') FROM ge_js").collect())
    assert(eK.getMessage.contains("[A-Za-z0-9_]"), eK.getMessage)
  }

  test("graft_canonicalize_url from SQL ≡ TextAnalysis.canonicalizeUrl") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val urls = Seq(
      "HTTP://Shop3.Example.COM:80/p/7//?b=2&utm_source=x&a=1#frag",
      "https://shop3.example.com/p/7?a=1&b=2",
      "https://news.example.co.uk:443/a/b/?fbclid=zz",
      "http://bare.example.com?utm_campaign=c&ref=r",
      "https://x.example.com/path",
      "  https://pad.example.com/p  ").zipWithIndex
      .map { case (u, i) => (i.toLong, u) }
    val df = urls.toDF("id", "url")
    df.createOrReplaceTempView("ge_cu")
    val viaSql = spark.sql(
      "SELECT id, graft_canonicalize_url(url) AS c FROM ge_cu")
      .as[(Long, String)].collect().sorted.toSeq
    val viaCol = df.select($"id",
      graft.operators.TextAnalysis.canonicalizeUrl($"url").as("c"))
      .as[(Long, String)].collect().sorted.toSeq
    assert(viaSql == viaCol)
    // spot-pin the normalization itself
    assert(viaSql.head._2 == "http://shop3.example.com/p/7?a=1&b=2")
    assert(viaSql(1)._2 == "https://shop3.example.com/p/7?a=1&b=2")
  }

  test("explicit validity slots: genuine NaN / Long.MinValue inputs " +
    "survive graft_ema / graft_delta_sum / graft_quantile_exact_weighted") {
    // EMA: a NaN value row PARTICIPATES and poisons the fold exactly as
    // the Column form's aggregate lambda would (NaN * anything = NaN) —
    // the old in-band encoding silently dropped it
    val ema = spark.sql(
      """SELECT graft_ema(ts, id, v, 0.25d, 0.75d)
        |FROM VALUES
        |  (TIMESTAMP '2024-01-01 00:00:00', 1L, 10.0d),
        |  (TIMESTAMP '2024-01-01 00:00:01', 2L, CAST('NaN' AS DOUBLE)),
        |  (TIMESTAMP '2024-01-01 00:00:02', 3L, 20.0d)
        |  AS t(ts, id, v)""".stripMargin).collect().head
    assert(ema.getDouble(0).isNaN)
    // ...while a NULL value row still skips (validity slot, not value)
    val emaNull = spark.sql(
      """SELECT graft_ema(ts, id, v, 0.25d, 0.75d)
        |FROM VALUES
        |  (TIMESTAMP '2024-01-01 00:00:00', 1L, 10.0d),
        |  (TIMESTAMP '2024-01-01 00:00:01', 2L, CAST(NULL AS DOUBLE)),
        |  (TIMESTAMP '2024-01-01 00:00:02', 3L, 20.0d)
        |  AS t(ts, id, v)""".stripMargin).collect().head
    assert(emaNull.getDouble(0) == 0.25 * 20.0 + 0.75 * 10.0)
    // delta_sum: Long.MinValue participates as a real value — the
    // MinValue -> 0 step wraps to MinValue (two's-complement, same as
    // the Column form's lag subtraction) and is skipped as negative;
    // the 0 -> 5 step contributes. The old in-band encoding would have
    // dropped the MinValue ROW, making 5 -> 5 contribute nothing extra
    // but, with (10, MinValue, 5), would misread the series entirely
    val ds = spark.sql(
      s"""SELECT graft_delta_sum(ts, id, v)
        |FROM VALUES
        |  (TIMESTAMP '2024-01-01 00:00:00', 1L, ${Long.MinValue}L),
        |  (TIMESTAMP '2024-01-01 00:00:01', 2L, 0L),
        |  (TIMESTAMP '2024-01-01 00:00:02', 3L, 5L)
        |  AS t(ts, id, v)""".stripMargin).collect().head
    assert(ds.getLong(0) == 5L)
    // exact weighted quantile: MinValue is an ordinary (smallest) value
    val qw = spark.sql(
      s"""SELECT graft_quantile_exact_weighted(v, w, 0.0),
        |  graft_quantile_exact_weighted(v, w, 1.0)
        |FROM VALUES (${Long.MinValue}L, 1L), (7L, 1L)
        |  AS t(v, w)""".stripMargin).collect().head
    assert(qw.getLong(0) == Long.MinValue && qw.getLong(1) == 7L)
  }

  test("validity slots test the CAST inputs: a non-NULL but uncastable " +
    "value skips the row (SQL ≡ Column), never a fabricated zero") {
    // under the non-ANSI session CAST('junk' AS DOUBLE/BIGINT/TIMESTAMP)
    // is NULL — the Column forms see that NULL and skip; the r16 slots
    // tested the RAW argument and let the coalesced 0/0.0 participate
    val ema = spark.sql(
      """SELECT graft_ema(ts, id, v, 0.25d, 0.75d)
        |FROM VALUES
        |  (TIMESTAMP '2024-01-01 00:00:00', 1L, '10.0'),
        |  (TIMESTAMP '2024-01-01 00:00:01', 2L, 'junk'),
        |  (TIMESTAMP '2024-01-01 00:00:02', 3L, '20.0')
        |  AS t(ts, id, v)""".stripMargin).collect().head
    assert(ema.getDouble(0) == 0.25 * 20.0 + 0.75 * 10.0,
      "uncastable value row must skip, not fold in 0.0")
    val ds = spark.sql(
      """SELECT graft_delta_sum(ts, id, v)
        |FROM VALUES
        |  (TIMESTAMP '2024-01-01 00:00:00', 1L, '10'),
        |  (TIMESTAMP '2024-01-01 00:00:01', 2L, 'junk'),
        |  (TIMESTAMP '2024-01-01 00:00:02', 3L, '15')
        |  AS t(ts, id, v)""".stripMargin).collect().head
    assert(ds.getLong(0) == 5L,
      "uncastable value row must skip (junk->0 would add a 0->15 delta)")
    // an uncastable TIMESTAMP likewise invalidates the row
    val ds2 = spark.sql(
      """SELECT graft_delta_sum(ts, id, v)
        |FROM VALUES
        |  ('2024-01-01 00:00:00', 1L, 10L),
        |  ('not a time', 2L, 99L),
        |  ('2024-01-01 00:00:02', 3L, 15L)
        |  AS t(ts, id, v)""".stripMargin).collect().head
    assert(ds2.getLong(0) == 5L)
    val qw = spark.sql(
      """SELECT graft_quantile_exact_weighted(v, w, 0.0)
        |FROM VALUES ('junk', 1L), ('7', 1L) AS t(v, w)""".stripMargin)
      .collect().head
    assert(qw.getLong(0) == 7L,
      "uncastable value must not participate as 0 (would be the p0 pick)")
  }

  test("quantileExact picks an ACTUAL element (CH nth_element rule); " +
    "quantileExactInclusive interpolates") {
    val r = spark.sql(
      """SELECT quantileExact(v, 0.5) AS p50,
        |  quantileExact(v, 0.0) AS p0,
        |  quantileExact(v, 1.0) AS p100,
        |  quantileExactInclusive(v, 0.5) AS i50
        |FROM VALUES (1L), (2L), (3L), (4L) AS t(v)""".stripMargin)
      .collect().head
    // CH: sorted[floor(0.5*4)] = sorted[2] = 3 (never 2.5)
    assert(r.getLong(0) == 3L)
    assert(r.getLong(1) == 1L && r.getLong(2) == 4L)
    assert(r.getDouble(3) == 2.5)
    // all-NULL group reads NULL (CH reads nan; engine NULL convention)
    val n = spark.sql(
      "SELECT quantileExact(v, 0.5) FROM VALUES (CAST(NULL AS BIGINT)) t(v)")
      .collect().head
    assert(n.isNullAt(0))
    val e = intercept[Exception](spark.sql(
      "SELECT quantileExact(v, 1.5) FROM VALUES (1L) t(v)").collect())
    assert(e.getMessage.contains("phi"), e.getMessage)
  }

  test("JSON structural family over the variant surface: JSONHas on an " +
    "explicit null, JSONLength, JSONType, JSONExtractArrayRaw, " +
    "JSONExtractKeys, JSONExtractKeysAndValuesRaw") {
    spark.sql(
      """SELECT '{"a":{"k":42},"n":null,"tags":["view","x",3],"s":"v","d":2.5}'
        |AS j""".stripMargin.replace("\n", ""))
      .createOrReplaceTempView("ge_jv")
    val r = spark.sql(
      """SELECT JSONHas(j, 'n') AS has_null_key,
        |  JSONHas(j, 'zz') AS has_missing,
        |  JSONLength(j) AS len_root, JSONLength(j, 'tags') AS len_tags,
        |  JSONLength(j, 'a') AS len_a, JSONLength(j, 's') AS len_s,
        |  JSONType(j) AS t_root, JSONType(j, 'a', 'k') AS t_ak,
        |  JSONType(j, 'n') AS t_n, JSONType(j, 'zz') AS t_zz,
        |  JSONType(j, 'd') AS t_d, JSONType(j, 's') AS t_s,
        |  JSONType(j, 'tags') AS t_tags,
        |  array_join(JSONExtractArrayRaw(j, 'tags'), '|') AS arr_raw,
        |  array_join(JSONExtractArrayRaw(j, 's'), '|') AS arr_not,
        |  array_join(JSONExtractKeys(j), ',') AS keys_root,
        |  array_join(transform(JSONExtractKeysAndValuesRaw(j, 'a'),
        |    e -> concat(e.key, '=', e.value)), '|') AS kv_a,
        |  JSONExtractInt(j, 'd') AS int_d
        |FROM ge_jv""".stripMargin).collect().head
    assert(r.getBoolean(0), "JSONHas must see an explicit JSON null")
    assert(!r.getBoolean(1))
    assert(r.getLong(2) == 5L && r.getLong(3) == 3L)
    assert(r.getLong(4) == 1L && r.getLong(5) == 0L)
    assert(r.getString(6) == "Object" && r.getString(7) == "Int64")
    assert(r.getString(8) == "Null" && r.getString(9) == "Null")
    assert(r.getString(10) == "Double" && r.getString(11) == "String")
    assert(r.getString(12) == "Array")
    assert(r.getString(13) == "\"view\"|\"x\"|3")
    assert(r.getString(14) == "")
    assert(r.getString(15) == "a,d,n,s,tags")
    assert(r.getString(16) == "k=42")
    assert(r.getLong(17) == 2L) // 2.5 truncates toward zero, CH's read
    // the generic typed extract: type-name literal dispatched at plan time
    val gen = spark.sql(
      """SELECT JSONExtract(j, 'a', 'k', 'Int64') AS i64,
        |  JSONExtract(j, 'd', 'Float64') AS f64,
        |  JSONExtract(j, 's', 'String') AS str,
        |  JSONExtract(j, 'zz', 'Int32') AS z32,
        |  JSONExtract(j, 'a', 'k', 'UInt16') AS u16,
        |  JSONExtract(j, 'd', 'Int64') AS trunc64
        |FROM ge_jv""".stripMargin).collect().head
    assert(gen.getLong(0) == 42L && gen.getDouble(1) == 2.5)
    assert(gen.getString(2) == "v" && gen.getInt(3) == 0)
    assert(gen.getInt(4) == 42 && gen.getLong(5) == 2L)
    val eT = intercept[Exception](spark.sql(
      "SELECT JSONExtract(j, 'a', 'Decimal128') FROM ge_jv").collect())
    assert(eT.getMessage.contains("supported"), eT.getMessage)
    // non-integral / bool conversions of JSONExtractInt (ADVICE r15)
    val conv = spark.sql(
      """SELECT JSONExtractInt(j, 'a') AS d1, JSONExtractInt(j, 'b') AS b1,
        |  JSONExtractInt(j, 's') AS s0
        |FROM (SELECT '{"a":200.7,"b":true,"s":"zz"}' AS j)""".stripMargin)
      .collect().head
    assert(conv.getLong(0) == 200L && conv.getLong(1) == 1L &&
      conv.getLong(2) == 0L)
    // malformed JSON: FALSE / 0 / 'Null', never a crash
    val bad = spark.sql(
      """SELECT JSONHas(j, 'a') AS h, JSONLength(j) AS l, JSONType(j) AS t
        |FROM (SELECT '{oops' AS j)""".stripMargin).collect().head
    assert(!bad.getBoolean(0) && bad.getLong(1) == 0L &&
      bad.getString(2) == "Null")
  }

  test("date tier 2: toMonday/toStartOfWeek modes, N-minute grids, " +
    "add/subtract interval family, boundary-crossing dateDiff") {
    val r = spark.sql(
      """SELECT CAST(toMonday(TIMESTAMP '2024-08-14 13:45:30') AS STRING) AS mon,
        |  CAST(toStartOfWeek(TIMESTAMP '2024-08-14 13:45:30') AS STRING) AS w0,
        |  CAST(toStartOfWeek(TIMESTAMP '2024-08-14 13:45:30', 1) AS STRING) AS w1,
        |  CAST(toStartOfWeek(TIMESTAMP '2024-08-11 00:00:00') AS STRING) AS wsun,
        |  CAST(toStartOfFifteenMinutes(TIMESTAMP '2024-08-14 13:47:30') AS STRING) AS m15,
        |  CAST(toStartOfTenMinutes(TIMESTAMP '2024-08-14 13:47:30') AS STRING) AS m10,
        |  CAST(toStartOfFiveMinutes(TIMESTAMP '2024-08-14 13:47:30') AS STRING) AS m5
        |""".stripMargin).collect().head
    assert(r.getString(0) == "2024-08-12 00:00:00") // Wed -> Monday
    assert(r.getString(1) == "2024-08-11 00:00:00") // mode 0: Sunday (CH default)
    assert(r.getString(2) == "2024-08-12 00:00:00") // mode 1: Monday
    assert(r.getString(3) == "2024-08-11 00:00:00") // Sunday is its own start
    assert(r.getString(4) == "2024-08-14 13:45:00")
    assert(r.getString(5) == "2024-08-14 13:40:00")
    assert(r.getString(6) == "2024-08-14 13:45:00")
    val add = spark.sql(
      """SELECT CAST(addDays(TIMESTAMP '2024-08-14 13:45:30', 3) AS STRING) AS d3,
        |  CAST(subtractDays(TIMESTAMP '2024-08-14 13:45:30', 14) AS STRING) AS dm14,
        |  CAST(addMonths(TIMESTAMP '2024-01-31 08:00:00', 1) AS STRING) AS eom,
        |  CAST(addYears(TIMESTAMP '2024-02-29 08:00:00', 1) AS STRING) AS feb,
        |  CAST(addHours(TIMESTAMP '2024-01-01 00:30:00', -1) AS STRING) AS hneg,
        |  CAST(addWeeks(TIMESTAMP '2024-08-14 13:45:30', 2) AS STRING) AS w2,
        |  CAST(addSeconds(TIMESTAMP '2024-08-14 13:45:30', 90) AS STRING) AS s90,
        |  CAST(toDateTime('2024-08-12 13:45:30') AS STRING) AS tdt
        |""".stripMargin).collect().head
    assert(add.getString(0) == "2024-08-17 13:45:30")
    assert(add.getString(1) == "2024-07-31 13:45:30")
    assert(add.getString(2) == "2024-02-29 08:00:00") // end-of-month clamp
    assert(add.getString(3) == "2025-02-28 08:00:00") // Feb-29 clamp
    assert(add.getString(4) == "2023-12-31 23:30:00")
    assert(add.getString(5) == "2024-08-28 13:45:30")
    assert(add.getString(6) == "2024-08-14 13:47:00")
    assert(add.getString(7) == "2024-08-12 13:45:30")
    // boundary-crossing graft_date_diff (CH dateDiff semantics; the CH
    // NAME is grammar-owned by Spark's parser and cannot be taken over)
    val dd = spark.sql(
      """SELECT graft_date_diff('day', TIMESTAMP '2024-01-01 23:00:00',
        |                 TIMESTAMP '2024-01-02 01:00:00') AS d,
        |  graft_date_diff('hour', TIMESTAMP '2024-01-01 13:59:00',
        |           TIMESTAMP '2024-01-01 14:01:00') AS h,
        |  graft_date_diff('month', TIMESTAMP '2024-01-31 00:00:00',
        |           TIMESTAMP '2024-02-01 00:00:00') AS m,
        |  graft_date_diff('year', TIMESTAMP '2023-12-31 23:59:59',
        |           TIMESTAMP '2024-01-01 00:00:00') AS y,
        |  graft_date_diff('week', TIMESTAMP '2024-08-11 12:00:00',
        |           TIMESTAMP '2024-08-12 12:00:00') AS w,
        |  graft_date_diff('second', TIMESTAMP '2024-01-01 00:00:00',
        |           TIMESTAMP '2024-01-01 00:01:30') AS s,
        |  graft_date_diff('minute', TIMESTAMP '2024-01-01 00:00:59',
        |           TIMESTAMP '2024-01-01 00:01:00') AS mi
        |""".stripMargin).collect().head
    assert(dd.getLong(0) == 1L) // one midnight crossed (elapsed = 0 days)
    assert(dd.getLong(1) == 1L)
    assert(dd.getLong(2) == 1L)
    assert(dd.getLong(3) == 1L)
    assert(dd.getLong(4) == 1L) // Sunday->Monday crosses CH's Monday boundary
    assert(dd.getLong(5) == 90L)
    assert(dd.getLong(6) == 1L)
    // the parser-owned spellings are NOT shadowed: 2-arg datediff is
    // Spark's day count, unquoted-unit dateDiff is Spark's ELAPSED
    // timestampdiff (reads 0 where CH's boundary rule reads 1), and the
    // quoted-unit CH text is a parse error - the documented MIGRATION gap
    val fallback = spark.sql(
      """SELECT dateDiff(DATE '2024-01-03', DATE '2024-01-01') AS d,
        |  dateDiff(DAY, TIMESTAMP '2024-01-01 23:00:00',
        |           TIMESTAMP '2024-01-02 01:00:00') AS elapsed
        |""".stripMargin).collect().head
    assert(fallback.getInt(0) == 2)
    assert(fallback.getLong(1) == 0L)
    val eP = intercept[Exception](spark.sql(
      """SELECT dateDiff('day', TIMESTAMP '2024-01-01 23:00:00',
        |  TIMESTAMP '2024-01-02 01:00:00')""".stripMargin).collect())
    assert(eP.getMessage.contains("unit"), eP.getMessage)
    // named rejections
    val eU = intercept[Exception](spark.sql(
      """SELECT graft_date_diff('fortnight', TIMESTAMP '2024-01-01 00:00:00',
        |  TIMESTAMP '2024-01-02 00:00:00')""".stripMargin).collect())
    assert(eU.getMessage.contains("fortnight"), eU.getMessage)
    val eM = intercept[Exception](spark.sql(
      "SELECT toStartOfWeek(TIMESTAMP '2024-01-01 00:00:00', 3)").collect())
    assert(eM.getMessage.contains("mode"), eM.getMessage)
  }

  test("lambda-first HOF family (arrayMap/Filter/Exists/All/Count/First) " +
    "and toStartOfInterval") {
    val r = spark.sql(
      """SELECT
        |  array_join(arrayMap(x -> concat(x, '!'),
        |    splitByChar(',', 'a,b,c')), '|') AS m,
        |  array_join(arrayFilter(x -> x <> 'b',
        |    splitByChar(',', 'a,b,c')), '|') AS f,
        |  arrayCount(x -> x > 1, array(0, 1, 2, 3)) AS c,
        |  arrayFirst(x -> x > 1, array(0, 1, 2, 3)) AS fst,
        |  arrayFirst(x -> x > 9, array(0, 1)) AS none,
        |  arrayExists(x -> x = 2, array(0, 1)) AS ex,
        |  arrayAll(x -> x >= 0, array(0, 1)) AS al,
        |  CAST(toStartOfInterval(TIMESTAMP '2024-08-14 13:47:30',
        |    INTERVAL 15 MINUTE) AS STRING) AS q15,
        |  CAST(toStartOfInterval(TIMESTAMP '2024-08-14 13:47:30',
        |    INTERVAL 6 HOUR) AS STRING) AS h6
        |""".stripMargin).collect().head
    assert(r.getString(0) == "a!|b!|c!")
    assert(r.getString(1) == "a|c")
    assert(r.getInt(2) == 2)
    assert(r.getInt(3) == 2 && r.isNullAt(4))
    assert(!r.getBoolean(5) && r.getBoolean(6))
    assert(r.getString(7) == "2024-08-14 13:45:00")
    assert(r.getString(8) == "2024-08-14 12:00:00")
    // month-width intervals rejected by name
    val e = intercept[Exception](spark.sql(
      """SELECT toStartOfInterval(TIMESTAMP '2024-08-14 13:47:30',
        |  INTERVAL 1 MONTH)""".stripMargin).collect())
    assert(e.getMessage.contains("toStartOfMonth"), e.getMessage)
  }

  test("string/map/tuple/age scalar aliases; age vs graft_date_diff " +
    "contrast") {
    val r = spark.sql(
      """SELECT trimLeft('  a ') AS tl, trimRight('  a ') AS tr2,
        |  trimBoth('  a ') AS tb,
        |  leftPad('7', 3, '0') AS lp, rightPad('7', 3, '0') AS rp,
        |  countSubstrings('abcabcab', 'ab') AS cs,
        |  array_join(mapKeys(map('a', 1)), ',') AS mk,
        |  mapValues(map('a', 1))[0] AS mv,
        |  mapContains(map('a', 1), 'a') AS mc,
        |  tupleElement(tuple('x', 42), 2) AS te,
        |  age('month', TIMESTAMP '2024-01-31 00:00:00',
        |      TIMESTAMP '2024-02-01 00:00:00') AS am,
        |  graft_date_diff('month', TIMESTAMP '2024-01-31 00:00:00',
        |      TIMESTAMP '2024-02-01 00:00:00') AS bm
        |""".stripMargin).collect().head
    assert(r.getString(0) == "a " && r.getString(1) == "  a" &&
      r.getString(2) == "a")
    assert(r.getString(3) == "007" && r.getString(4) == "700")
    assert(r.getLong(5) == 3L)
    assert(r.getString(6) == "a" && r.getInt(7) == 1 && r.getBoolean(8))
    assert(r.getInt(9) == 42)
    // the complementary pair: age counts ELAPSED complete months (0 -
    // a day short), graft_date_diff counts month BOUNDARIES crossed (1)
    assert(r.getLong(10) == 0L && r.getLong(11) == 1L)
    // the array vocabulary round-out: flatten/reverse/min/max/zip/
    // slice, CONSECUTIVE-dedup arrayCompact (the array_compact false
    // friend), integer fold arraySum/arrayAvg
    val av = spark.sql(
      """SELECT array_join(arrayFlatten(array(array(1,2), array(3))), ',') AS fl,
        |  array_join(arrayReverse(array('a','b','c')), ',') AS rv,
        |  arrayMin(array(3, 1, 2)) AS mn, arrayMax(array(3, 1, 2)) AS mx,
        |  array_join(arraySlice(array(1,2,3,4), 2), ',') AS sl2,
        |  array_join(arraySlice(array(1,2,3,4), 2, 2), ',') AS sl3,
        |  array_join(arrayCompact(array(1,1,2,2,2,1,3,3)), ',') AS cp,
        |  arraySum(array(1, 2, 3)) AS asum,
        |  arrayAvg(array(1, 2, 4)) AS aavg,
        |  size(arrays_zip(array(1), array('x'))) AS az
        |""".stripMargin).collect().head
    assert(av.getString(0) == "1,2,3" && av.getString(1) == "c,b,a")
    assert(av.getInt(2) == 1 && av.getInt(3) == 3)
    assert(av.getString(4) == "2,3,4" && av.getString(5) == "2,3")
    assert(av.getString(6) == "1,2,1,3") // consecutive dedup, CH's rule
    assert(av.getLong(7) == 6L)
    assert(av.getDouble(8) == 7.0 / 3.0)
    assert(av.getInt(9) == 1)
    // UTF8-suffixed exact matches, range/arrayEnumerate guards, bit ops,
    // bankers rounding
    val ux = spark.sql(
      """SELECT lengthUTF8('héllo') AS lu,
        |  lowerUTF8('ABC') AS lo, upperUTF8('abc') AS up,
        |  reverseUTF8('abc') AS rv, substringUTF8('héllo', 2, 3) AS su,
        |  array_join(range(3), ',') AS r1,
        |  array_join(range(2, 5), ',') AS r2,
        |  array_join(range(0, 10, 3), ',') AS r3,
        |  size(range(0)) AS r0,
        |  array_join(arrayEnumerate(array('a','b','c')), ',') AS en,
        |  size(arrayEnumerate(array())) AS en0,
        |  bitAnd(12, 10) AS ba, bitOr(12, 10) AS bo, bitXor(12, 10) AS bx,
        |  bitNot(0) AS bn, bitShiftLeft(1, 4) AS bl,
        |  bitShiftRight(-16, 2) AS br,
        |  roundBankers(CAST(2.5 AS DOUBLE)) AS rb0,
        |  roundBankers(CAST(0.125 AS DOUBLE), 2) AS rb2
        |""".stripMargin).collect().head
    assert(ux.getInt(0) == 5) // characters, the UTF8 form's contract
    assert(ux.getString(1) == "abc" && ux.getString(2) == "ABC")
    assert(ux.getString(3) == "cba" && ux.getString(4) == "éll")
    assert(ux.getString(5) == "0,1,2") // end-EXCLUSIVE, CH's rule
    assert(ux.getString(6) == "2,3,4" && ux.getString(7) == "0,3,6,9")
    assert(ux.getInt(8) == 0) // range(0) = [], not sequence's [0,-1]
    assert(ux.getString(9) == "1,2,3" && ux.getInt(10) == 0)
    assert(ux.getInt(11) == 8 && ux.getInt(12) == 14 && ux.getInt(13) == 6)
    assert(ux.getInt(14) == -1 && ux.getInt(15) == 16 && ux.getInt(16) == -4)
    assert(ux.getDouble(17) == 2.0 && ux.getDouble(18) == 0.12) // half-to-even
    // extractAll group dispatch (exact Pattern.groupCount, both modes),
    // splitByString quoting, base64 names, JSONExtractUInt widen
    val ex = spark.sql(
      """SELECT array_join(extractAll('a1b22c333', '[0-9]+'), ',') AS whole,
        |  array_join(extractAll('k=1;j=2', '([a-z])='), ',') AS grp,
        |  array_join(splitByString('::', 'a::b::c'), ',') AS sbs,
        |  base64Decode(base64Encode('round trip')) AS b64,
        |  JSONExtractUInt('{"k":42}', 'k') AS ju,
        |  JSONExtractUInt('{"k":99999999999999999999}', 'k') AS ju_over
        |""".stripMargin).collect().head
    assert(ex.getString(0) == "1,22,333")
    assert(ex.getString(1) == "k,j") // group 1 extracted, CH's rule
    assert(ex.getString(2) == "a,b,c")
    assert(ex.getString(3) == "round trip")
    assert(ex.getLong(4) == 42L && ex.getLong(5) == 0L)
    // function-form arithmetic + the hash-name deviation (values are
    // xxhash64's, role is uniform hashing)
    val ar = spark.sql(
      """SELECT plus(2, 3) AS p, minus(2, 3) AS m, multiply(2, 3) AS x,
        |  divide(1, 2) AS d,
        |  cityHash64('abc') = xxhash64('abc') AS ch,
        |  sipHash64('abc') = xxhash64('abc') AS sh
        |""".stripMargin).collect().head
    assert(ar.getInt(0) == 5 && ar.getInt(1) == -1 && ar.getInt(2) == 6)
    assert(ar.getDouble(3) == 0.5)
    assert(ar.getBoolean(4) && ar.getBoolean(5))
    // the remaining scalar vocabulary, value-pinned
    val sc = spark.sql(
      """SELECT match('hello123', '[0-9]+') AS m,
        |  match('hello', '^[0-9]+$') AS m0,
        |  replaceAll('a.b.c', '.', '-') AS ra,
        |  replaceRegexpAll('a1b22', '[0-9]+', '#') AS rr,
        |  empty('') AS e1, empty('x') AS e0, notEmpty('x') AS ne,
        |  toString(42) AS ts, toInt32('17') AS i32,
        |  toUInt8(200) AS u8, toFloat64('2.5') AS f64,
        |  intDiv(-7, 2) AS idv, modulo(-7, 2) AS md,
        |  has(array('a', 'b'), 'b') AS hs,
        |  indexOf(array('a', 'b'), 'b') AS ix,
        |  arrayElement(array(10, 20), -1) AS ae,
        |  arrayElement(array(10, 20), 0) AS ae0,
        |  assumeNotNull(5) AS an,
        |  today() = current_date() AS td,
        |  yesterday() = date_sub(current_date(), 1) AS yd
        |""".stripMargin).collect().head
    assert(sc.getBoolean(0) && !sc.getBoolean(1))
    assert(sc.getString(2) == "a-b-c") // LITERAL replace, not regex
    assert(sc.getString(3) == "a#b#")
    assert(sc.getBoolean(4) && !sc.getBoolean(5) && sc.getBoolean(6))
    assert(sc.getString(7) == "42" && sc.getInt(8) == 17)
    assert(sc.getShort(9) == 200 && sc.getDouble(10) == 2.5)
    assert(sc.getLong(11) == -3L) // intDiv truncates toward zero
    assert(sc.getInt(12) == -1)   // modulo follows the dividend sign
    assert(sc.getBoolean(13) && sc.getLong(14) == 2L)
    assert(sc.getInt(15) == 20 && sc.isNullAt(16))
    assert(sc.getInt(17) == 5)
    assert(sc.getBoolean(18) && sc.getBoolean(19))
  }

  test("DedupProjectParse: one try_parse_json per row however many " +
    "structural accessors read the document") {
    import org.apache.spark.sql.catalyst.expressions.variant.ParseJson
    // a non-foldable document column: a literal doc would be
    // constant-folded away before the rule ever sees a ParseJson
    spark.range(1, 4).selectExpr(
      "concat('{\"a\":', id, ',\"b\":[1,2],\"n\":null}') AS j")
      .createOrReplaceTempView("ge_dp")
    val df = spark.sql(
      """SELECT JSONHas(j, 'a') AS h, JSONHas(j, 'n') AS hn,
        |  JSONLength(j) AS l, JSONType(j, 'b') AS t,
        |  array_join(JSONExtractArrayRaw(j, 'b'), ',') AS ar
        |FROM ge_dp""".stripMargin)
    val parses = df.queryExecution.optimizedPlan.collect {
      case p => p.expressions.flatMap(_.collect {
        case e if DedupProjectParse.isTryParse(e) => e
      })
    }.flatten
    assert(parses.size == 1,
      s"want ONE shared parse, got ${parses.size}:\n" +
        df.queryExecution.optimizedPlan)
    // values unchanged by the pull
    val r = df.collect().head
    assert(r.getBoolean(0) && r.getBoolean(1))
    assert(r.getLong(2) == 3L && r.getString(3) == "Array")
    assert(r.getString(4) == "1,2")
  }

  test("LEGACY cast ≡ TRY cast for string→numeric/boolean (the r19 " +
    "exception-free JSONExtract leg swap is result-identical)") {
    // the jsonIntBuilder/extractAs legs moved from TRY to LEGACY for the
    // string-source casts; this battery pins that both modes accept the
    // SAME strings with the SAME values (TRY is ANSI-with-catch and both
    // defer to the same UTF8String parsers, differing only in
    // null-vs-caught-throw). Overflow, whitespace, signs, specials,
    // decimals, exponents, booleans, garbage — cell-for-cell equality.
    val battery = Seq(
      "0", "1", "-1", "+5", " 42 ", "\t7\n", "2.5", "-2.5", "2.50",
      "200.7", "1e2", "-1E3", "1e308", "1e309", "-1e309", "9223372036854775807",
      "9223372036854775808", "-9223372036854775808", "-9223372036854775809",
      "99999999999999999999999", "0x1F", "abc", "", " ", ".", "-", "+",
      "NaN", "nan", "Infinity", "-Infinity", "+Infinity", "inf", "-inf",
      "infinity", "true", "false", "t", "f", "y", "n", "yes", "no", "TRUE",
      "False", "1.0.0", "12abc", "abc12", "١٢٣", "0.0", "-0.0", ".5", "5.",
      "127", "128", "-128", "-129", "32767", "32768", "2147483647",
      "2147483648", "null", "NULL")
    import spark.implicits._
    val df = battery.toDF("s")
    // the targets the registry actually swapped to LEGACY: double/float/
    // boolean (integral targets are NOT swap-safe — legacy truncates
    // decimal text where TRY reads null — and stay on TRY/the kernel)
    val types = Seq("double", "float", "boolean")
    types.foreach { t =>
      val rows = df.selectExpr(
        s"s", s"try_cast(s AS $t) AS tryc", s"cast(s AS $t) AS legc")
        .collect()
      rows.foreach { r =>
        assert(r.isNullAt(1) == r.isNullAt(2),
          s"null mismatch for '${r.getString(0)}' AS $t: $r")
        if (!r.isNullAt(1))
          // string equality also equates NaN with NaN (Double NaN != NaN)
          assert(String.valueOf(r.get(1)) == String.valueOf(r.get(2)),
            s"value mismatch for '${r.getString(0)}' AS $t: $r")
      }
    }
    // the string→long leg runs the TryLongExact kernel: bit-identical to
    // try_cast (ANSI grammar = lenient toLong minus '.'-containing text)
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val kernel = ColumnBridge.column(graft.functions.TextExprs.TryLongExact(
      ColumnBridge.expression(col("s"))))
    val rows = df.select(col("s"), expr("try_cast(s AS bigint)").as("tryc"),
      kernel.as("kern")).collect()
    rows.foreach { r =>
      assert(r.isNullAt(1) == r.isNullAt(2),
        s"kernel null mismatch for '${r.getString(0)}': $r")
      if (!r.isNullAt(1))
        assert(r.getLong(1) == r.getLong(2),
          s"kernel value mismatch for '${r.getString(0)}': $r")
    }
  }

  test("DedupProjectParse: the JSONExtractInt coalesce legs share ONE " +
    "get_json_object per (json, path) — not one Jackson parse per leg") {
    spark.range(1, 4).selectExpr(
      "concat('{\"d\":2.5,\"k\":', id, '}') AS j")
      .createOrReplaceTempView("ge_dp_get")
    val df = spark.sql(
      """SELECT JSONExtractInt(j, 'd') AS d, JSONExtractInt(j, 'k') AS k
        |FROM ge_dp_get""".stripMargin)
    val gets = df.queryExecution.optimizedPlan.collect {
      case p => p.expressions.flatMap(_.collect {
        case e if DedupProjectParse.isSharedJsonGet(e) => e
      })
    }.flatten
    // two distinct paths, each expanded to a 3-leg TRY-cast coalesce:
    // 6 get_json_object calls before the pull, 2 shared ones after
    assert(gets.size == 2,
      s"want one shared get_json_object per path, got ${gets.size}:\n" +
        df.queryExecution.optimizedPlan)
    val r = df.collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(r.toSeq == Seq((2L, 1L), (2L, 2L), (2L, 3L)))
  }

  test("DedupProjectParse: STRICT parse_json under a CASE WHEN guard is " +
    "NOT pulled (hoisting it would throw on rows the guard excluded)") {
    // one well-formed row, one malformed: the strict parse is reachable
    // only behind the guard. With the r16 arg-index bug (failOnError
    // read from index 1 = allowDuplicateKeys) the rule hoisted this
    // parse unconditionally and the query threw MALFORMED_VARIANT.
    spark.createDataFrame(Seq(
      Tuple1("""{"a":1}"""), Tuple1("not json at all")))
      .toDF("j").createOrReplaceTempView("ge_dp_strict")
    val df = spark.sql(
      """SELECT
        |  CASE WHEN startswith(j, '{')
        |    THEN to_json(parse_json(j)) END AS a,
        |  CASE WHEN startswith(j, '{')
        |    THEN variant_get(parse_json(j), '$.a', 'long') END AS b
        |FROM ge_dp_strict""".stripMargin)
    val hoisted = df.queryExecution.optimizedPlan.collect {
      case p => p.expressions.collect {
        case al: org.apache.spark.sql.catalyst.expressions.Alias
          if al.name == "__graft_parse" => al
      }
    }.flatten
    assert(hoisted.isEmpty,
      s"strict parse was hoisted:\n${df.queryExecution.optimizedPlan}")
    // end-to-end: the malformed row must survive (guard intact)
    val rows = df.orderBy("a").collect()
    assert(rows.length == 2)
    assert(rows.exists(r => r.isNullAt(0) && r.isNullAt(1)))
    assert(rows.exists(r => !r.isNullAt(0) && r.getLong(1) == 1L))
  }

  test("formatDateTime quotes reserved literal punctuation ('#', '{', '}')") {
    val r = spark.sql(
      """SELECT formatDateTime(TIMESTAMP '2024-08-12 13:45:30',
        |  '{%Y}#%m') AS f""".stripMargin).collect().head
    assert(r.getString(0) == "{2024}#08")
  }

  test("formatDateTime tier-2 specifiers; visitParam legacy JSON names; " +
    "ISO week/year") {
    val r = spark.sql(
      """SELECT formatDateTime(TIMESTAMP '2024-08-12 13:45:30',
        |    '%a %b %j %R %c%n%t') AS f,
        |  visitParamHas('{"k":42,"n":null}', 'n') AS vh,
        |  visitParamHas('{"k":42}', 'zz') AS vh0,
        |  visitParamExtractString('{"s":"x"}', 's') AS vs,
        |  visitParamExtractInt('{"k":42}', 'k') AS vi,
        |  visitParamExtractUInt('{"k":7}', 'k') AS vu,
        |  visitParamExtractFloat('{"f":2.5}', 'f') AS vf,
        |  visitParamExtractBool('{"b":true}', 'b') AS vb,
        |  visitParamExtractRaw('{"o":{"x":1}}', 'o') AS vr,
        |  toISOWeek(TIMESTAMP '2024-01-01 00:00:00') AS iw,
        |  toISOYear(TIMESTAMP '2023-01-01 00:00:00') AS iy
        |""".stripMargin).collect().head
    assert(r.getString(0) == "Mon Aug 225 13:45 08\n\t")
    assert(r.getBoolean(1), "legacy visitParamHas sees explicit null")
    assert(!r.getBoolean(2))
    assert(r.getString(3) == "x" && r.getLong(4) == 42L && r.getLong(5) == 7L)
    assert(r.getDouble(6) == 2.5 && r.getBoolean(7))
    assert(r.getString(8).contains("\"x\":1"))
    assert(r.getInt(9) == 1)   // 2024-01-01 is ISO week 1 (a Monday)
    assert(r.getInt(10) == 2022) // Jan 1 2023 (Sunday) belongs to ISO 2022
  }

  test("r17 scalar batch: array push/pop/resize/product/uniq/intersect, " +
    "hasAll/hasAny, positionCaseInsensitive, bit/exp2/finite, dates, " +
    "formatReadableSize, bar") {
    val r = spark.sql(
      """SELECT arrayConcat(array(1, 2), array(3)) AS ac,
        |  concatAssumeInjective('a', '_', 'b') AS cai,
        |  arrayProduct(array(2, 3, 4)) AS ap,
        |  arrayProduct(CAST(array() AS ARRAY<DOUBLE>)) AS ap0,
        |  arrayUniq(array(1, 2, 2, 3)) AS au,
        |  arrayReverseSort(array(3, 1, 2)) AS ars,
        |  arrayIntersect(array(1, 2, 3), array(2, 3, 4)) AS ai,
        |  hasAll(array(1, 2, 3), array(2, 3)) AS ha,
        |  hasAll(array(1, 2), array(3)) AS ha0,
        |  hasAll(array(1), CAST(array() AS ARRAY<INT>)) AS hae,
        |  hasAny(array(1, 2), array(2, 5)) AS hy,
        |  hasAny(array(1, 2), array(7)) AS hy0,
        |  arrayPushBack(array(1, 2), 3) AS apb,
        |  arrayPushFront(array(1, 2), 0) AS apf,
        |  arrayPopBack(array(1, 2, 3)) AS apob,
        |  arrayPopFront(array(1, 2, 3)) AS apof,
        |  arrayPopBack(CAST(array() AS ARRAY<INT>)) AS apoe,
        |  arrayResize(array(1, 2, 3), 2, 0) AS arz1,
        |  arrayResize(array(1), 3, 9) AS arz2,
        |  positionCaseInsensitive('Hello World', 'WORLD') AS pci,
        |  positionCaseInsensitive('abc', 'zz') AS pci0,
        |  bitCount(255L) AS bc,
        |  exp2(10) AS e2,
        |  isFinite(1.5d) AS fin1,
        |  isFinite(CAST('NaN' AS DOUBLE)) AS fin2,
        |  isFinite(CAST('Infinity' AS DOUBLE)) AS fin3,
        |  isInfinite(CAST('-Infinity' AS DOUBLE)) AS inf1,
        |  isInfinite(CAST('NaN' AS DOUBLE)) AS inf2,
        |  translateUTF8('abcab', 'ab', 'xy') AS tr,
        |  CAST(toLastDayOfMonth(TIMESTAMP '2024-02-10 05:00:00')
        |    AS STRING) AS ldm,
        |  CAST(toStartOfSecond(TIMESTAMP '2024-01-01 01:02:03.789')
        |    AS STRING) AS tss,
        |  CAST(timeSlot(TIMESTAMP '2024-01-01 01:47:03') AS STRING) AS tsl,
        |  monthName(TIMESTAMP '2024-03-05 00:00:00') AS mn,
        |  now64(3) IS NOT NULL AS n64,
        |  formatReadableSize(1023) AS frs1,
        |  formatReadableSize(1536) AS frs2,
        |  formatReadableSize(1073741824) AS frs3,
        |  bar(3, 0, 8, 8) AS b1,
        |  bar(3.5, 0, 8, 8) AS b2,
        |  bar(10, 0, 8, 8) AS b3
        |""".stripMargin).collect().head
    assert(r.getSeq[Int](0) == Seq(1, 2, 3))
    assert(r.getString(1) == "a_b")
    assert(r.getDouble(2) == 24.0 && r.getDouble(3) == 1.0)
    assert(r.getLong(4) == 3L)
    assert(r.getSeq[Int](5) == Seq(3, 2, 1))
    assert(r.getSeq[Int](6) == Seq(2, 3))
    assert(r.getBoolean(7) && !r.getBoolean(8) && r.getBoolean(9))
    assert(r.getBoolean(10) && !r.getBoolean(11))
    assert(r.getSeq[Int](12) == Seq(1, 2, 3))
    assert(r.getSeq[Int](13) == Seq(0, 1, 2))
    assert(r.getSeq[Int](14) == Seq(1, 2))
    assert(r.getSeq[Int](15) == Seq(2, 3))
    assert(r.getSeq[Int](16) == Seq())
    assert(r.getSeq[Int](17) == Seq(1, 2))
    assert(r.getSeq[Int](18) == Seq(1, 9, 9))
    assert(r.getInt(19) == 7 && r.getInt(20) == 0)
    assert(r.getInt(21) == 8)
    assert(r.getDouble(22) == 1024.0)
    assert(r.getBoolean(23) && !r.getBoolean(24) && !r.getBoolean(25))
    assert(r.getBoolean(26) && !r.getBoolean(27))
    assert(r.getString(28) == "xycxy")
    assert(r.getString(29) == "2024-02-29") // leap February
    assert(r.getString(30) == "2024-01-01 01:02:03")
    assert(r.getString(31) == "2024-01-01 01:30:00")
    assert(r.getString(32) == "March")
    assert(r.getBoolean(33))
    assert(r.getString(34) == "1023.00 B")
    assert(r.getString(35) == "1.50 KiB")
    assert(r.getString(36) == "1.00 GiB")
    assert(r.getString(37) == "███")
    assert(r.getString(38) == "███▌") // 3 full + 4/8
    assert(r.getString(39) == "█" * 8) // clamped at max
  }

  test("r17 batch 2: URL accessors, -Array combinators, fromUnixTimestamp," +
    " cast names, arrayFirstIndex, roundDuration/roundAge, dateName") {
    val u = "https://u:p@www.shop.example.co.uk:8443/a/b?x=1&y=2#frag"
    val r = spark.sql(
      s"""SELECT protocol('$u') AS proto,
        |  protocol('bare.host/x') AS proto0,
        |  pathFull('$u') AS pf,
        |  pathFull('https://host.com') AS pf0,
        |  cutQueryString('$u') AS cqs,
        |  cutFragment('$u') AS cf,
        |  arrayStringConcat(extractURLParameters('$u'), '&') AS ups,
        |  size(extractURLParameters('https://h.com/x')) AS ups0,
        |  decodeURLComponent('a%20b%2Fc') AS dec,
        |  encodeURLComponent('a/b') AS enc,
        |  CAST(fromUnixTimestamp(86400) AS STRING) AS fut,
        |  CAST(toDate32('2024-03-05') AS STRING) AS d32,
        |  CAST(toDateTime64('2024-03-05 01:02:03', 3) AS STRING) AS dt64,
        |  arrayFirstIndex(x -> x > 10, array(3, 50, 7)) AS afi,
        |  arrayFirstIndex(x -> x > 99, array(3, 50, 7)) AS afi0,
        |  roundDuration(0) AS rd0, roundDuration(45) AS rd1,
        |  roundDuration(99999) AS rd2,
        |  roundAge(0) AS ra0, roundAge(12) AS ra1, roundAge(30) AS ra2,
        |  roundAge(80) AS ra3,
        |  dateName('month', TIMESTAMP '2024-03-05 00:00:00') AS dnm,
        |  dateName('weekday', TIMESTAMP '2024-03-05 00:00:00') AS dnw,
        |  dateName('year', TIMESTAMP '2024-03-05 00:00:00') AS dny
        |""".stripMargin).collect().head
    assert(r.getString(0) == "https" && r.getString(1) == "")
    assert(r.getString(2) == "/a/b?x=1&y=2" && r.getString(3) == "/")
    assert(r.getString(4) ==
      "https://u:p@www.shop.example.co.uk:8443/a/b#frag")
    assert(r.getString(5) ==
      "https://u:p@www.shop.example.co.uk:8443/a/b?x=1&y=2")
    assert(r.getString(6) == "x=1&y=2" && r.getInt(7) == 0)
    assert(r.getString(8) == "a b/c" && r.getString(9) == "a%2Fb")
    assert(r.getString(10) == "1970-01-02 00:00:00")
    assert(r.getString(11) == "2024-03-05")
    assert(r.getString(12) == "2024-03-05 01:02:03")
    assert(r.getLong(13) == 2L && r.getLong(14) == 0L)
    assert(r.getLong(15) == 0L && r.getLong(16) == 30L)
    assert(r.getLong(17) == 36000L)
    assert(r.getLong(18) == 0L && r.getLong(19) == 17L)
    assert(r.getLong(20) == 25L && r.getLong(21) == 55L)
    assert(r.getString(22) == "March" && r.getString(23) == "Tuesday")
    assert(r.getString(24) == "2024")
    // aggregate -Array combinators over grouped rows
    val g = spark.sql(
      """SELECT sumArray(a) AS sa, minArray(a) AS mna,
        |  maxArray(a) AS mxa, avgArray(a) AS ava,
        |  arraySort(groupArrayArray(a)) AS gaa,
        |  uniqCombined64(x) AS uc
        |FROM VALUES (array(1L, 2L), 'p'), (array(3L), 'q'),
        |  (array(), 'p') AS t(a, x)""".stripMargin).collect().head
    assert(g.getLong(0) == 6L)
    assert(g.getLong(1) == 1L && g.getLong(2) == 3L)
    assert(g.getDouble(3) == 2.0)
    assert(g.getSeq[Long](4) == Seq(1L, 2L, 3L))
    assert(g.getLong(5) == 2L)
    // named rejection: unsupported dateName part
    val e = intercept[Exception](spark.sql(
      "SELECT dateName('dayofyear', now())").collect())
    assert(e.getMessage.contains("toYear"))
  }

  test("r17 scalar batch named rejections: 2-arg arrayResize") {
    val e = intercept[Exception](spark.sql(
      "SELECT arrayResize(array(1), 3)").collect())
    assert(e.getMessage.contains("fill"))
  }

  test("visitParam* on a MALFORMED document reads the type default " +
    "(DEVIATION: ClickHouse's lenient single-level scanner can still " +
    "find the key in a not-quite-JSON fragment)") {
    // CH visitParamExtractInt('junk {"k":1', 'k') scans to 1; this
    // engine routes through try_parse_json, so the whole-document parse
    // fails and every reader returns its default — pinned here and in
    // MIGRATION.md so the divergence is load-bearing documentation
    val r = spark.sql(
      """SELECT visitParamHas('junk {"k":1', 'k') AS h,
        |  visitParamExtractInt('junk {"k":1', 'k') AS i,
        |  visitParamExtractString('junk {"s":"x"', 's') AS s,
        |  visitParamExtractFloat('junk {"f":2.5', 'f') AS f,
        |  visitParamExtractBool('junk {"b":true', 'b') AS b,
        |  visitParamExtractRaw('junk {"o":{}', 'o') AS raw
        |""".stripMargin).collect().head
    assert(!r.getBoolean(0))
    assert(r.getLong(1) == 0L)
    assert(r.getString(2) == "")
    assert(r.getDouble(3) == 0.0)
    assert(!r.getBoolean(4))
    assert(r.getString(5) == "")
  }

  test("r18 batch: array scans (cumSum/difference/enumerateDense/" +
    "rotate), string predicates, relative-time numbers, timeSlots, " +
    "MJD, add/subtract arithmetic, vector distances, bit probes, " +
    "formatReadableQuantity") {
    val r = spark.sql(
      """SELECT arrayCumSum(array(1, 2, 3)) AS cs,
        |  arrayCumSum(slice(array(1), 1, 0)) AS cs_empty,
        |  arrayDifference(array(1, 2, 3, 5)) AS ad,
        |  arrayEnumerateDense(array(10, 20, 10, 30)) AS aed,
        |  arrayRotateLeft(array(1, 2, 3, 4, 5), 2) AS rl,
        |  arrayRotateLeft(array(1, 2, 3, 4, 5), 7) AS rl_wrap,
        |  arrayRotateLeft(array(1, 2, 3, 4, 5), -1) AS rl_neg,
        |  arrayRotateRight(array(1, 2, 3, 4, 5), 1) AS rr,
        |  arrayRotateLeft(array(9), 3) AS rl_one,
        |  startsWith('abc', 'ab') AS sw, endsWith('abc', 'bc') AS ew,
        |  alphaTokens('ab12cd,ef') AS at, alphaTokens('123') AS at0,
        |  concatWithSeparator('-', 'a', 'b', 'c') AS cws,
        |  substringIndex('www.example.com', '.', 2) AS si,
        |  toRelativeDayNum(TIMESTAMP '1970-01-02 12:00:00') AS rdn,
        |  toRelativeHourNum(TIMESTAMP '1970-01-02 12:00:00') AS rhn,
        |  toRelativeMinuteNum(TIMESTAMP '1970-01-01 01:02:00') AS rmn,
        |  timeSlots(TIMESTAMP '2024-01-01 00:10:00', 3600) AS ts30,
        |  timeSlots(TIMESTAMP '2024-01-01 00:10:00', 3600, 900) AS ts15,
        |  toModifiedJulianDay(DATE '1858-11-17') AS mjd0,
        |  toModifiedJulianDay('2020-01-01') AS mjd,
        |  CAST(addDays(TIMESTAMP '2024-01-31 00:00:00', 1) AS STRING)
        |    AS add_d,
        |  CAST(addMonths(TIMESTAMP '2024-01-31 00:00:00', 1) AS STRING)
        |    AS add_m,
        |  CAST(subtractHours(TIMESTAMP '2024-01-01 01:00:00', 2)
        |    AS STRING) AS sub_h,
        |  dotProduct(array(1, 2), array(3, 4)) AS dp,
        |  L1Distance(array(1, 2), array(3, 5)) AS l1,
        |  L2Distance(array(0, 3), array(4, 0)) AS l2,
        |  LinfDistance(array(1, 2), array(3, 5)) AS linf,
        |  cosineDistance(array(1, 0), array(0, 1)) AS cosd1,
        |  cosineDistance(array(2, 0), array(4, 0)) AS cosd0,
        |  bitTest(5, 0) AS bt1, bitTest(5, 1) AS bt0,
        |  bitTestAll(5, 0, 2) AS bta_t, bitTestAll(5, 0, 1) AS bta_f,
        |  bitTestAny(5, 1, 2) AS btn_t, bitTestAny(5, 1, 3) AS btn_f,
        |  formatReadableQuantity(950) AS frq0,
        |  formatReadableQuantity(1200) AS frq1,
        |  formatReadableQuantity(3500000) AS frq2
        |""".stripMargin).collect().head
    assert(r.getSeq[Long](0) == Seq(1L, 3L, 6L))
    assert(r.getSeq[Long](1).isEmpty)
    assert(r.getSeq[Long](2) == Seq(0L, 1L, 1L, 2L))
    assert(r.getSeq[Long](3) == Seq(1L, 2L, 1L, 3L))
    assert(r.getSeq[Int](4) == Seq(3, 4, 5, 1, 2))
    assert(r.getSeq[Int](5) == Seq(3, 4, 5, 1, 2)) // 7 ≡ 2 mod 5
    assert(r.getSeq[Int](6) == Seq(5, 1, 2, 3, 4)) // -1 left = 1 right
    assert(r.getSeq[Int](7) == Seq(5, 1, 2, 3, 4))
    assert(r.getSeq[Int](8) == Seq(9)) // size-1 identity
    assert(r.getBoolean(9) && r.getBoolean(10))
    assert(r.getSeq[String](11) == Seq("ab", "cd", "ef"))
    assert(r.getSeq[String](12).isEmpty)
    assert(r.getString(13) == "a-b-c")
    assert(r.getString(14) == "www.example")
    assert(r.getLong(15) == 1L && r.getLong(16) == 36L &&
      r.getLong(17) == 62L)
    assert(r.getSeq[java.sql.Timestamp](18).map(_.toString) == Seq(
      "2024-01-01 00:00:00.0", "2024-01-01 00:30:00.0",
      "2024-01-01 01:00:00.0"))
    assert(r.getSeq[java.sql.Timestamp](19).length == 5) // 900 s grid
    assert(r.getInt(20) == 0 && r.getInt(21) == 58849)
    assert(r.getString(22) == "2024-02-01 00:00:00")
    assert(r.getString(23) == "2024-02-29 00:00:00") // month-end clamp
    assert(r.getString(24) == "2023-12-31 23:00:00")
    assert(r.getDouble(25) == 11.0)
    assert(r.getDouble(26) == 5.0 && r.getDouble(27) == 5.0 &&
      r.getDouble(28) == 3.0)
    assert(r.getDouble(29) == 1.0 && r.getDouble(30) == 0.0)
    assert(r.getLong(31) == 1L && r.getLong(32) == 0L)
    assert(r.getBoolean(33) && !r.getBoolean(34))
    assert(r.getBoolean(35) && !r.getBoolean(36))
    assert(r.getString(37) == "950.00")
    assert(r.getString(38) == "1.20 thousand")
    assert(r.getString(39) == "3.50 million")
  }

  test("r18 batch named rejections: bitTestAll arity, " +
    "concatWithSeparator arity") {
    val e1 = intercept[Exception](spark.sql("SELECT bitTestAll(5)"))
    assert(e1.getMessage.contains("bitTestAll"))
    val e2 = intercept[Exception](
      spark.sql("SELECT concatWithSeparator('-')"))
    assert(e2.getMessage.contains("concatWithSeparator"))
  }
}
