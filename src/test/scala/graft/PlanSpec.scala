package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.analog.Analog
import graft.credit.Marts
import graft.ext.Sim
import graft.queries.Registry

/** Physical-plan assertions: the properties that decide 100 TB behavior
  * (column pruning into the parquet reader, filter pushdown through
  * staging projections, equi-join shapes, no cartesian products) are
  * checked structurally, not eyeballed from `.explain`. */
class PlanSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"
  private def tables = Tables(spark, sfDir)

  private def scans(df: DataFrame): Seq[FileSourceScanExec] =
    df.queryExecution.executedPlan.collect { case s: FileSourceScanExec => s }

  test("staging projection prunes the customer scan to the referenced columns") {
    val df = Analog.loans(tables).select(col("loan_id"), col("exposure"))
    val scan = scans(df).head
    val read = scan.requiredSchema.fieldNames.toSet
    // loan_id <- c_custkey, exposure <- c_acctbal; nothing else may be read
    assert(read == Set("c_custkey", "c_acctbal"), s"scan reads $read")
  }

  test("a filter on a staging alias pushes down to the parquet scan") {
    val df = Analog.loans(tables).filter(col("loan_id") < 100)
    val scan = scans(df).head
    val pushed = scan.metadata.getOrElse("PushedFilters", "")
    assert(pushed.contains("LessThan(c_custkey,100)"), s"PushedFilters=$pushed")
  }

  test("dpd_daily joins without a cartesian product and without a forced broadcast") {
    val plan = Marts.dpdDaily(Analog.arrears(tables), Analog.loans(tables))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
    // either join strategy is fine (AQE decides by size); both are equi-joins
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"), plan)
  }

  test("LSH candidate generation is an equi-join — never a cross product") {
    Seq(
      Sim.lshTopK(tables.embeddings, 5, 6),
      Sim.lshTopKTables(tables.embeddings, 5, 10, 3),
      Sim.ivfTopK(tables.embeddings, 5, 8, 2),
      Sim.embeddingNearDups(tables.embeddings, 6, 0.3)
    ).foreach { df =>
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"nested-loop join in:\n$plan")
    }
  }

  test("winnow fingerprint pairing is a hash equi-join — never a cross product") {
    Seq(
      graft.ext.Text.winnowFingerprints(tables.documents, 3, 4),
      graft.ext.Text.fingerprintNearDups(tables.documents, 3, 4)
    ).foreach { df =>
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"nested-loop join in:\n$plan")
    }
  }

  test("phrase matching broadcasts the phrase side and never shuffles a pair space") {
    val phrases = Seq("table table", "scan scan slow")
    Seq(
      graft.ext.Text.phraseMatches(tables.documents, phrases),
      graft.ext.Text.blocklistFilter(tables.documents, phrases)
    ).foreach { df =>
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"nested-loop join in:\n$plan")
      assert(plan.contains("BroadcastHashJoin"),
        s"phrase probe expected as a broadcast hash join in:\n$plan")
    }
  }

  test("decontamination excision broadcasts the eval shingles — train side never pair-shuffled") {
    val docs = tables.documents
    val df = graft.ext.Text.cutContaminatedSpans(
      docs.filter(col("doc_id") % 40 =!= 0),
      docs.filter(col("doc_id") % 40 === 0), n = 3)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"nested-loop join in:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"eval-shingle probe expected as a broadcast hash join in:\n$plan")
  }

  test("quality classifier probes the weight table as a broadcast hash join") {
    val df = graft.ext.Text.qualityMargin(tables.documents,
      graft.ext.Text.hashWeights(tables.documents))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"nested-loop join in:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"weight probe expected as a broadcast hash join in:\n$plan")
  }

  test("language-ID probes the profile table as a broadcast hash join; argmax is an aggregate, not a window") {
    val df = graft.ext.Text.languageId(tables.documents,
      graft.ext.Text.langProfiles(tables.documents, k = 40), k = 40)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"nested-loop join in:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"profile probe expected as a broadcast hash join in:\n$plan")
    // the per-doc argmax must be the map-side-combinable min(struct),
    // never a doc-keyed rank window over the scored stream
    assert(!plan.contains("windowspecdefinition(doc_id#"),
      s"per-doc window in:\n$plan")
  }

  test("CDC chunking stays join-free: window + aggregations only") {
    Seq(
      graft.ext.Text.cdcChunks(tables.documents, 3, 32L),
      graft.ext.Text.cdcDupChunks(tables.documents, 3, 32L),
      graft.ext.Text.cdcDedupStats(tables.documents, 3, 32L)
    ).foreach { df =>
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Join"), s"unexpected join in CDC plan:\n$plan")
      assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
    }
  }

  test("duplicate-span queries join on keys only — never a cross product") {
    Seq(
      graft.ext.Text.duplicateSpans(tables.documents, 3, 2L),
      graft.ext.Text.cutDuplicateSpans(tables.documents, 3)
    ).foreach { df =>
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"nested-loop join in:\n$plan")
      // keep-first must stay a partial aggregate, never a per-shingle
      // sort window: the hottest boilerplate shingle's occurrence list
      // would otherwise sort on ONE reducer (the 100 TB skew hazard) —
      // the only windows allowed here partition by doc_id
      assert(!plan.contains("windowspecdefinition(sh#"),
        s"per-shingle window in:\n$plan")
    }
  }

  test("pre-built span state: the cut side plans one shingle-keyed join — maintain state, pay only the cut") {
    // deployment shape of the incremental cleaning cut: the (sh, cnt,
    // fdoc, fpos) state is MAINTAINED by the ingest
    // (shingleFirstAdd/mergeShingleFirsts); a cleaning pass plans ONLY
    // the cut side against the materialized state — the documents being
    // cleaned are re-shingled, the corpus is never recounted, and the
    // state meets the shingle stream in exactly one sh-keyed equi-join
    val docs = tables.documents
    val state = graft.ext.Text.shingleFirstAdd(docs, 3).localCheckpoint(true)
    val cut = graft.ext.Text.cutDuplicateSpansFromCounts(docs, state, 3)
    val plan = cut.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"nested-loop join in:\n$plan")
    // same skew invariant as the single-pass cut: no per-shingle window
    assert(!plan.contains("windowspecdefinition(sh#"),
      s"per-shingle window in:\n$plan")
    val shJoins = "Join \\[sh#".r.findAllIn(plan).length
    assert(shJoins == 1, s"$shJoins shingle-keyed joins, want exactly 1:\n$plan")
  }

  test("sessionize and samplePerGroup plan exactly one shuffle (keyed window reuse)") {
    // sessionize runs TWO window functions (lag marker + running sum)
    // over the same (key, order) — they must share one exchange
    val ev = tables.events.select(col("event_id"), col("user_id"),
      expr("ts div 1000").as("tsu"))
    val sess = graft.operators.Sessions.sessionize(
      ev, col("user_id"), col("tsu"), 1000L, Seq(col("tsu").asc, col("event_id").asc))
    val sessEx = "Exchange hashpartitioning".r
      .findAllIn(sess.queryExecution.executedPlan.toString).length
    assert(sessEx == 1, s"sessionize planned $sessEx exchanges, want 1")
    val samp = graft.operators.Sampling.samplePerGroup(
      tables.documents.select(col("doc_id"), col("lang")), Seq(col("lang")), col("doc_id"), 5)
    val sampEx = "Exchange hashpartitioning".r
      .findAllIn(samp.queryExecution.executedPlan.toString).length
    assert(sampEx == 1, s"samplePerGroup planned $sampEx exchanges, want 1")
  }

  test("writePartitioned layout prunes partitions at read time (incremental-refresh path)") {
    // the 100 TB contract of the partitioned sink: a month-scoped
    // recompute over a date-partitioned fact must read ONLY the matching
    // partition directories — PartitionFilters, not a full scan + filter
    val dir = graft.sources.Scratch.dir("graft_prune_test").toString
    val df = tables.events
      .select(col("event_id"), col("user_id"), col("value"),
        (col("event_id") % 5).cast("int").as("bucket_id"))
    graft.sources.Load.writePartitioned(df, dir, Seq("bucket_id"), Seq("event_id"))
    val read = spark.read.parquet(dir).filter(col("bucket_id") === 3)
    val scan = scans(read).head
    val pf = scan.partitionFilters.mkString(";")
    assert(pf.contains("bucket_id"), s"no partition filter, got: $pf")
    // data filters must be empty — the predicate is fully satisfied by
    // directory pruning, nothing is re-checked row-by-row
    assert(scan.dataFilters.isEmpty, s"predicate fell through to data scan: ${scan.dataFilters}")
    assert(read.count() == tables.events.filter(col("event_id") % 5 === 3).count())
  }

  test("dynamic partition pruning fires when a filtered dim joins the partitioned fact") {
    // the join-driven complement of static pruning: the fact's partition
    // filter is only knowable at runtime (it comes from the dim's filter
    // result), so the scan must carry a dynamicpruning subquery — at
    // 100 TB this is the difference between reading one year and all of
    // them when the predicate lives on the dimension side
    val dir = graft.sources.Scratch.dir("graft_dpp_test").toString
    val fact = tables.events.select(col("event_id"), col("user_id"), col("value"),
      (col("event_id") % 5).cast("int").as("bucket_id"))
    graft.sources.Load.writePartitioned(fact, dir, Seq("bucket_id"), Seq("event_id"))
    val dim = spark.range(5).select(col("id").cast("int").as("bucket_id"),
        concat(lit("b"), col("id")).as("bucket_name"))
      .filter(col("bucket_name") === "b3") // fact-side residue unknowable statically
    val joined = spark.read.parquet(dir).join(dim, Seq("bucket_id"))
    joined.count() // materialize so AQE's final physical plan exists
    val root = joined.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val scan = root.collect { case s: FileSourceScanExec => s }
      .find(_.output.exists(_.name == "event_id")).get
    val pf = scan.partitionFilters.mkString(";")
    assert(pf.contains("dynamicpruning"), s"no DPP subquery on the fact scan, got: $pf")
    assert(joined.count() == tables.events.filter(col("event_id") % 5 === 3).count())
  }

  test("packSequences windows per (source, shard) — one keyed exchange, never a global sort") {
    val packed = graft.ext.Corpus.packSequences(tables.documents)
    val plan = packed.queryExecution.executedPlan.toString
    val ex = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(ex == 1, s"packSequences planned $ex hash exchanges, want 1")
    assert(!plan.contains("Exchange SinglePartition"), s"global window in:\n$plan")
    assert(!plan.contains("rangepartitioning"), s"global sort in:\n$plan")
  }

  test("withDenseIds never plans a global sort — bounded shard windows plus a broadcast offset join") {
    val df = graft.sources.Load.withDenseIds(
      tables.documents.select(col("doc_id"), col("source")), "doc_id", "dense_id", 100L)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("rangepartitioning"), s"global sort in:\n$plan")
    assert(!plan.contains("Exchange SinglePartition"), s"one-task window in:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"offset join not broadcast in:\n$plan")
  }

  test("contamination broadcasts the bounded eval side — the training side never shuffles for the join") {
    val df = graft.ext.Corpus.contamination(tables.documents, 3)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join in:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"shuffle join in:\n$plan")
  }

  test("Profile aggregates every column metric in ONE pass — no Expand, exactly one exchange") {
    val df = graft.dq.Profile.profile(tables.documents,
      Seq("doc_id", "n_chars"), Seq("lang", "source"))
    val plan = df.queryExecution.executedPlan.toString
    // countDistinct over N columns would Expand the scan N ways; the KMV
    // sketch keeps the plan a plain partial/final aggregation
    assert(!plan.contains("Expand"), s"Expand blow-up in:\n$plan")
    val exchanges = "Exchange".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges in:\n$plan")
    // temporal columns and the histogram ride the SAME single pass —
    // the bucket counters are conditional aggregates, not a second scan
    // numeric AND temporal histograms together: the date column's grid
    // runs over its epoch days, still inside the one aggregation
    val withHist = graft.dq.Profile.profile(
      tables.orders.withColumn("o_orderday", to_date(col("o_orderdate"))),
      Seq("o_orderkey"), Seq("o_orderstatus"),
      dateCols = Seq("o_orderday"), timestampCols = Seq("o_orderdate"),
      hist = Seq(graft.dq.Profile.HistSpec("o_orderkey", 0, 1000, 8),
        graft.dq.Profile.HistSpec("o_orderday", 9131.0, 366.0, 8)))
    val hPlan = withHist.queryExecution.executedPlan.toString
    assert(!hPlan.contains("Expand"), s"Expand blow-up in:\n$hPlan")
    val hExchanges = "Exchange".r.findAllIn(hPlan).length
    assert(hExchanges == 1, s"expected 1 exchange, got $hExchanges in:\n$hPlan")
  }

  test("bloomContamination probes a one-row broadcast — the training shingle stream never joins") {
    val df = graft.ext.Corpus.bloomContamination(tables.documents, 3)
    df.count() // materialize AQE's final plan
    val plan = df.queryExecution.executedPlan.toString
    // the filter rides a broadcast of numBits bits; the training side's
    // only admissible joins are broadcast (never a shuffle of shingles)
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"bloom words not broadcast in:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"training side shuffled for a join:\n$plan")
  }

  test("redactPii is a narrow projection — no exchange at all") {
    val red = graft.ext.Text.redactPii(tables.customer, "c_custkey", "c_name")
    val plan = red.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected exchange in:\n$plan")
  }

  test("SimplifyLiteralCaseFilter: bucket-predicate filters reach PushedFilters") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_case").toString + "/t"
    Seq((1L, 5), (2L, 95), (3L, 120)).toDF("loan_id", "days_past_due")
      .write.parquet(dir)
    val staged = spark.read.parquet(dir)
      .withColumn("dpd_bucket",
        graft.functions.CreditFunctions.dpdBucket(col("days_past_due")))
    val filtered = staged.filter(col("dpd_bucket") === "90+")
    val pushed = scans(filtered).head.metadata.getOrElse("PushedFilters", "")
    // the CASE equality must decompose into range predicates on the
    // underlying column and reach the parquet scan
    assert(pushed.contains("GreaterThan(days_past_due,90)"), s"PushedFilters=$pushed")
    assert(filtered.select(col("loan_id")).as[Long].collect().toSet == Set(2L, 3L))
    // a middle band pushes its range too
    val mid = staged.filter(col("dpd_bucket") === "1-30")
    val pushedMid = scans(mid).head.metadata.getOrElse("PushedFilters", "")
    assert(pushedMid.contains("GreaterThan(days_past_due,0)")
      && pushedMid.contains("LessThanOrEqual(days_past_due,30)"), s"PushedFilters=$pushedMid")
    assert(mid.select(col("loan_id")).as[Long].collect().toSet == Set(1L))
  }

  test("SimplifyLiteralCaseFilter: NULL input falls through to ELSE exactly like CASE") {
    import spark.implicits._
    val df = Seq((1L, Some(5)), (2L, Some(95)), (3L, None))
      .toDF("loan_id", "days_past_due")
      .withColumn("dpd_bucket",
        graft.functions.CreditFunctions.dpdBucket(col("days_past_due")))
    // dpdBucket(NULL): every condition is NULL -> otherwise('90+'); the
    // rewritten filter must KEEP the null row (IsNull disjunct), and a
    // non-else band must DROP it
    assert(df.filter(col("dpd_bucket") === "90+")
      .select(col("loan_id")).as[Long].collect().toSet == Set(2L, 3L))
    assert(df.filter(col("dpd_bucket") === "1-30")
      .select(col("loan_id")).as[Long].collect().toSet == Set(1L))
  }

  test("graft_dot is SQL-callable through the extensions installer") {
    import spark.implicits._
    Seq((Seq(1.5f, 2.0f), Seq(2.0f, -0.5f))).toDF("a", "b").createOrReplaceTempView("v_dot")
    val got = spark.sql("SELECT graft_dot(a, b) AS d FROM v_dot").as[Double].collect()
    assert(got.head == 1.5 * 2.0 + 2.0 * -0.5)
  }

  test("pointInInterval plans an equi-join — the BETWEEN never becomes a nested loop") {
    val pay = Analog.payments(tables)
      .select(col("loan_id"), col("payment_date"), col("amount_received"))
    val iv = tables.orders.select(
      col("o_custkey").cast("long").as("loan_id"),
      col("o_orderdate").cast("date").as("start_date"),
      date_add(col("o_orderdate").cast("date"), (col("o_orderkey") % 30).cast("int")).as("end_date"),
      col("o_orderkey").cast("long").as("interval_id"))
    val joined = graft.operators.IntervalJoin.pointInInterval(
      pay, iv, Seq("loan_id"), "payment_date", "start_date", "end_date", 30)
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"nested loop in:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"), plan)
    // result identical to the direct (nested-loop) BETWEEN join
    val direct = pay.join(iv, pay("loan_id") === iv("loan_id")
        && col("payment_date") >= col("start_date")
        && col("payment_date") <= col("end_date"))
      .select(pay("loan_id"), col("interval_id"), col("payment_date"), col("amount_received"))
    val cells = joined
      .select(col("loan_id"), col("interval_id"), col("payment_date"), col("amount_received"))
    assert(cells.count() == direct.count()
      && cells.except(direct).count() == 0 && direct.except(cells).count() == 0)
    // inverted and NULL intervals drop out before the shuffle
    import spark.implicits._
    val pts = Seq((1L, java.sql.Date.valueOf("2021-01-05"))).toDF("k", "d")
    val ivs = Seq(
      (1L, Some(java.sql.Date.valueOf("2021-01-10")), Some(java.sql.Date.valueOf("2021-01-01"))),
      (1L, None, Some(java.sql.Date.valueOf("2021-01-10"))))
      .toDF("k", "s", "e")
    assert(graft.operators.IntervalJoin
      .pointInInterval(pts, ivs, Seq("k"), "d", "s", "e", 7).count() == 0)
  }

  test("Scd2.merge costs one join — history passes through with no exchange of its own") {
    import spark.implicits._
    val dim = Seq((1L, "A", java.sql.Date.valueOf("2020-01-01"),
        Option.empty[java.sql.Date], true))
      .toDF("k", "attr", "valid_from", "valid_to", "is_current")
    val inc = Seq((1L, "B")).toDF("k", "attr")
    val merged = graft.operators.Scd2.merge(dim, inc, "k", Seq("attr"),
      lit(java.sql.Date.valueOf("2025-06-01")))
    val plan = merged.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"non-equi join in:\n$plan")
    // at most the one keyed join exchanges; local relations may broadcast
    val ex = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(ex <= 2, s"Scd2.merge planned $ex hash exchanges:\n$plan")
  }

  test("monthly mart aggregation partially aggregates before the exchange") {
    val plan = Marts.nplMonthly(Marts.dpdDaily(Analog.arrears(tables), Analog.loans(tables)))
      .queryExecution.executedPlan.toString
    // map-side combine: a partial_ aggregation mode appears below the shuffle
    assert(plan.contains("partial_sum") || plan.contains("Partial"), plan)
  }

  test("topk_per_group plans WindowGroupLimit Partial below one exchange, Final above") {
    val (_, finalPlan) = LocalSession.runToFinalPlan(
      Registry.queries("topk_per_group")(spark, sfDir))
    val plan = finalPlan.toString
    // the rendered tree lists parents first: final limit, exchange, partial limit
    val at = Seq("WindowGroupLimit.*Final", "Exchange hashpartitioning",
        "WindowGroupLimit.*Partial").map(_.r.findFirstMatchIn(plan).map(_.start).getOrElse(-1))
    assert(!at.contains(-1) && at == at.sorted, s"want final > exchange > partial in:\n$plan")
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1, plan)
  }

  test("ema fold plans two keyed exchanges (monthly rollup + per-key collect), no window") {
    val df = Registry.queries("ema_monthly_value")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    // the recurrence itself is a HOF fold inside the projection — the
    // plan must show only the two aggregation shuffles, never a Window
    // (a window spelling would imply per-row state the fold avoids)
    assert("Exchange hashpartitioning".r.findAllIn(plan).length <= 2, plan)
    assert(!plan.contains("Window"), s"unexpected window in:\n$plan")
  }

  test("cms estimates join the one-row-per-group sketch via broadcast, never SMJ") {
    val df = Registry.queries("cms_user_counts")(spark, sfDir)
    df.count()
    val root = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val plan = root.toString
    assert(plan.contains("BroadcastHashJoin"), s"sketch join not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"sketch join shuffled:\n$plan")
  }

  test("datasetMix is a narrow filter — no exchange, no shuffle") {
    val plan = graft.ext.Corpus.datasetMix(
        tables.documents, Seq("src0" -> 100), 50)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"mix planned a shuffle:\n$plan")
  }

  test("entity_match candidates come from a block equi-join — never a cross product") {
    val plan = graft.ext.Entity.blockedMatches(
        tables.part.select(col("p_name")), "p_name", 3)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"nested loop in:\n$plan")
  }

  test("skew_report's top-k is a distributed TakeOrdered, not a global sort window") {
    val rep = graft.operators.Skew.hotKeyReport(
      tables.events.select(col("user_id")), "user_id", 20, 0.008)
    val plan = rep.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"no TakeOrdered in:\n$plan")
    assert(!plan.contains("Window"), s"rank window leaked into:\n$plan")
  }

  test("curriculumBuckets broadcasts the one-row boundary frame to the assignment") {
    val df = graft.ext.Corpus.curriculumBuckets(tables.documents)
    df.count() // materialize AQE's final plan
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"boundary join not broadcast in:\n$plan")
    // the document side must NOT shuffle for the assignment join: the
    // only exchanges belong to the bounded histogram aggregation
    assert(!plan.contains("SortMergeJoin"), s"assignment join shuffled:\n$plan")
  }

  /** Shape summary of an AQE-FINAL physical plan: shuffle exchange
    * count, broadcast exchange count, and the multiset of join
    * strategies — the three properties whose drift shows up as bench
    * drift. String-derived because the AQE-final tree hides stage
    * internals from `collect` behind QueryStageExec leaves, while the
    * rendered tree shows every node. */
  private def planShape(df: DataFrame): (Int, Int, Map[String, Int]) = {
    val (_, finalPlan) = LocalSession.runToFinalPlan(df)
    val s = finalPlan.toString
    def n(p: String) = p.r.findAllIn(s).length
    val shuffles = n("Exchange hashpartitioning") + n("Exchange rangepartitioning") +
      n("Exchange SinglePartition")
    val broadcasts = n("BroadcastExchange")
    val joins = Seq("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
        "BroadcastNestedLoopJoin")
      .map(j => j -> s.sliding(j.length).count(_ == j)).filter(_._2 > 0).toMap
    // ShuffledHashJoin/BroadcastHashJoin both contain "HashJoin" but not
    // each other; SortMergeJoin is disjoint — counts don't double-book
    (shuffles, broadcasts, joins)
  }

    // Pinned AQE-final shapes at sf0.001 for the most expensive bench
    // queries of bench_out_sf0.1.json — plan drift (a lost broadcast, a
    // new shuffle, a join strategy flip) fails HERE, in `sbt test`,
    // before it shows up as bench drift. Shapes are size-dependent where
    // AQE converts joins at runtime, so goldens are pinned at this tier
    // and any intentional operator change re-pins its row. The r10
    // ann_recall_* audit queries (now among the most expensive) are
    // deliberately NOT pinned as wholes: each is a union of pipelines
    // whose components (brute kernel + the pinned knn_* searches) are
    // covered individually — pinning the union would re-assert the same
    // shapes with extra brittleness.
  private lazy val golden: Map[String, (Int, Int, Map[String, Int])] = Map(
      "entity_canonical" ->
        ((4, 2, Map("SortMergeJoin" -> 1, "BroadcastHashJoin" -> 2))),
      "knn_cosine_lsh_multi" -> ((5, 1, Map("BroadcastHashJoin" -> 1))),
      "synth_npl_monthly_roundtrip" -> ((1, 1, Map("BroadcastHashJoin" -> 1))),
      "synth_vintage_mob" -> ((3, 1, Map("BroadcastHashJoin" -> 1))),
      "near_dup_ngram" ->
        ((3, 4, Map("SortMergeJoin" -> 1, "BroadcastHashJoin" -> 4))),
      "synth_bucket_transitions" -> ((3, 0, Map.empty)),
      "synth_cure_rate_monthly" -> ((4, 0, Map.empty)),
      "synth_roll_rate_monthly" -> ((4, 0, Map.empty)),
      // r21: scan-aware spread before the tf explode — the hash(doc_id)
      // spread exchange is REUSED by the (doc_id, term) tf groupBy
      // (hash(doc_id) clusters (doc_id, term)), so the shape drops from
      // 4 exchanges to 3 while the explode runs 32-wide
      "tfidf_top_terms" -> ((3, 1, Map("BroadcastHashJoin" -> 1))),
      "synth_npl_monthly" -> ((1, 1, Map("BroadcastHashJoin" -> 1))),
      // round-8 additions: the trained-k-means pair lands in the top-10
      // by sf0.1 cost, so their shapes are pinned alongside. Centroid
      // training is ONE groupBy exchange (assignment passes are narrow);
      // SemDeDup adds the label join + cell self-join, both broadcast at
      // this tier
      "kmeans_centroids" -> ((1, 0, Map.empty)),
      "semantic_dedup" -> ((2, 2, Map("BroadcastHashJoin" -> 2))),
      // round-9: trained centroids wired into IVF search — the probe
      // shape must stay ivfTopK's (one top-k window exchange, the
      // indexed side broadcast into the cell join; training's own
      // exchanges run in the bounded update() jobs, not here)
      "knn_cosine_ivf_trained" -> ((1, 1, Map("BroadcastHashJoin" -> 1))),
      // the arithmetic-centroid and SQ8 searches share the trained
      // searches' IVF probe, so they keep its shape; BQ adds the two
      // broadcast joins of its exact re-score of the top-refineR
      "knn_cosine_ivf" -> ((1, 1, Map("BroadcastHashJoin" -> 1))),
      "knn_cosine_ivfsq" -> ((1, 1, Map("BroadcastHashJoin" -> 1))),
      "knn_cosine_ivfbq" -> ((1, 3, Map("BroadcastHashJoin" -> 3))),
      // round-9: cluster-routed decontamination — ZERO shuffles on the
      // probe path (the streaming-readiness property made structural):
      // eval labeling + the cell route are both broadcast joins
      "semantic_contamination" -> ((0, 2, Map("BroadcastHashJoin" -> 2))),
      // round-9: IVF-PQ keeps the exact ivfTopK search shape — the PQ
      // compression changes WHAT the candidates carry, never the plan
      "knn_cosine_ivfpq" -> ((1, 1, Map("BroadcastHashJoin" -> 1))),
      // round-10: residual coding changes the codebook's TARGET, not the
      // search plan — same routing, same candidate traffic, same shape
      "knn_cosine_ivfpq_res" -> ((1, 1, Map("BroadcastHashJoin" -> 1))),
      // round-12: the OPQ permutation is a narrow pre-projection + one
      // bounded driver stats collect — the SEARCH plan must stay
      // ivfPqTopK's exactly
      "knn_cosine_ivfpq_opq" -> ((1, 1, Map("BroadcastHashJoin" -> 1))),
      // round-17b: the web-curation compositions are the newest
      // top-of-bench queries — their screens must stay broadcast
      // probes on the doc spine
      // r21: +1 exchange — htmlExtract's scan-aware spread (the per-char
      // state machine must not ride the one-task single-file scan; the
      // gate is identity once the source has >= cores splits).
      // The per-doc reputation verdict joins the spine under a merge hint:
      // un-hinted, AQE demoted that join to a broadcast at run time and
      // kept the spine's doc_id exchange in some runs only (4 or 5
      // shuffles); hinted, both sides always shuffle once on doc_id
      "web_curation_keeplist" ->
        ((5, 5, Map("SortMergeJoin" -> 1, "BroadcastHashJoin" -> 5))),
      // the pack's keep-list semi-join carries an explicit merge hint
      // (ExtRegistry): its keep side is corpus-sized at 100 TB but sat
      // exactly on the AQE broadcast threshold at this tier, so the
      // un-hinted shape flipped SMJ<->BHJ per run (r17 judge: 2-of-3
      // full-suite failures on this very pin). The hint makes the
      // pinned SMJ deterministic.
      // (+1 exchange in r21: htmlExtract's scan-aware spread, as
      // web_curation_keeplist; the second sort-merge join is the
      // keep-list's merge-hinted reputation join)
      "web_curation_pack" ->
        ((7, 5, Map("SortMergeJoin" -> 2, "BroadcastHashJoin" -> 5))),
      // r18: fused one-projection crawl-trap pass — one repartition
      // exchange reused by all three nested aggregations, zero joins
      // (r17 judge flagged the previous three-way self-join)
      "crawl_trap_report" -> ((1, 0, Map.empty[String, Int])),
      "domain_reputation_screen" -> ((1, 1, Map("BroadcastHashJoin" -> 1))))

  test("golden plans: the ten most expensive bench queries keep their executed shape") {
    val observed = golden.keys.toSeq.sorted.map { name =>
      name -> planShape(SparkEntry.queries(name)(spark, sfDir))
    }
    val drifted = observed.filter { case (name, got) => golden(name) != got }
    assert(drifted.isEmpty, drifted.map { case (name, (sh, bc, j)) =>
      s"""$name: observed (shuffles=$sh, broadcasts=$bc, joins=$j), pinned ${golden(name)}"""
    }.mkString("\n"))
  }

  test("golden pins hold their shape across a ±20% broadcast-threshold band") {
    // The r17 full-suite flake was a pin whose join sat EXACTLY on the
    // AQE broadcast threshold: runtime byte counts wobble ~1% run to
    // run, so a boundary join flips SMJ<->BHJ nondeterministically.
    // This sweep re-plans every pinned query with BOTH thresholds
    // (static + adaptive) at 0.8x and 1.2x the 10 MB default and
    // asserts the pinned shape at both — any pin within 20% of the
    // boundary fails HERE deterministically instead of flaking at
    // whatever byte count a loaded suite run produces. Queries that
    // need a specific strategy at a boundary must say so with a join
    // hint (web_curation_pack's merge hint), which this sweep then
    // proves immune to the band.
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    try {
      Seq("8388608", "12582912").foreach { thr =>
        keys.foreach(spark.conf.set(_, thr))
        val drifted = golden.keys.toSeq.sorted.map { name =>
          name -> planShape(SparkEntry.queries(name)(spark, sfDir))
        }.filter { case (name, got) => golden(name) != got }
        assert(drifted.isEmpty, s"at threshold $thr: " +
          drifted.map { case (name, (sh, bc, j)) =>
            s"$name: observed (shuffles=$sh, broadcasts=$bc, joins=$j), pinned ${golden(name)}"
          }.mkString("\n"))
      }
    } finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  test("multimodal decode is a narrow object pipeline over a doc_id-only scan") {
    val df = graft.ext.Multimodal.decodeMedia(
      graft.ext.Multimodal.encodeMedia(tables.documents)).toDF()
    val scan = scans(df).head
    // media blobs are heavy at production scale: the encode source must
    // read ONLY the key column, and encode→decode must chain with no
    // exchange (per-partition codec contexts, nothing to the driver)
    assert(scan.requiredSchema.fieldNames.toSet == Set("doc_id"),
      s"scan reads ${scan.requiredSchema.fieldNames.mkString(",")}")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected exchange in:\n$plan")
  }

  test("curation pipeline: both screens broadcast; no cartesian anywhere in the composed plan") {
    val docs = tables.documents
    val df = graft.ext.Corpus.curationPipeline(docs,
      graft.ext.Text.hashWeights(docs), k = 40)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"nested-loop join in:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"profile/weight probes expected as broadcast hash joins in:\n$plan")
  }

  test("lm perplexity: model probes broadcast; corpus never shuffles on the model key") {
    val docs = tables.documents
    val df = graft.ext.Text.lmPerplexity(docs)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
    // exactly ONE nested-loop join is expected and correct: the global
    // vocabulary size V is a 1-row broadcast scalar crossed onto the
    // bigram stream (attaching a scalar IS a broadcast nested-loop
    // cross); anything beyond that one is a real plan defect
    assert("BroadcastNestedLoopJoin".r.findAllIn(plan).length <= 1,
      s"unexpected nested-loop joins in:\n$plan")
    // the (ctx, w) count probe and the ctx-total probe must both ride
    // broadcasts — a corpus-sized shuffle on the model key would make
    // scoring cost the corpus twice at 100 TB
    assert("BroadcastHashJoin".r.findAllIn(plan).length >= 2,
      s"model probes expected as broadcast hash joins in:\n$plan")
    assert(!plan.contains("Window"), s"rank window leaked into:\n$plan")
  }

  test("backoff lm: per-order model probes broadcast; corpus never shuffles on a model key") {
    val docs = tables.documents
    val df = graft.ext.Text.lmPerplexityBackoff(docs, min3 = 2L, min2 = 2L)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
    // one nested-loop cross is the (N, V) scalar attach — same contract
    // as the bigram screen's vocabulary scalar
    assert("BroadcastNestedLoopJoin".r.findAllIn(plan).length <= 1,
      s"unexpected nested-loop joins in:\n$plan")
    // five model probes (t3, tot3, t2, tot2, t1) must all ride
    // broadcasts — any corpus-sized shuffle on a model key re-costs
    // the corpus per order at 100 TB
    assert("BroadcastHashJoin".r.findAllIn(plan).length >= 5,
      s"per-order probes expected as broadcast hash joins in:\n$plan")
    assert(!plan.contains("Window"), s"rank window leaked into:\n$plan")
  }

  test("byte-level BPE tokenize: dict probe broadcasts; no cartesian") {
    val docs = graft.ext.Text.utf8Dirty(tables.documents)
    val df = graft.ext.Text.byteBpeTokenize(
      graft.ext.Text.byteBpeTrainMerges(docs, rounds = 2, batch = 4), docs)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"nested-loop join in:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"byte-id dictionary expected as a broadcast hash join in:\n$plan")
  }

  test("multimodal curation keep-list: spine joins only, no cartesian, no rank window") {
    val docs = tables.documents
    val text = graft.ext.Text.gopherRepetition(docs)
      .select(col("doc_id"), col("accepted").as("text_ok"))
    val ph = graft.ext.Multimodal.phashPng(graft.ext.Multimodal.encodePng(docs)).toDF()
      .select(col("doc_id"), col("phash"))
    val canon = ph.groupBy(col("phash")).agg(min(col("doc_id")).as("canon"))
    val img = ph.join(canon, Seq("phash"))
      .select(col("doc_id"), (col("doc_id") === col("canon")).cast("int").as("image_keep"))
    val audio = graft.ext.Multimodal.audioQuality(
        graft.ext.Multimodal.encodeAudio(docs)).toDF()
      .select(col("doc_id"), col("accepted").as("audio_ok"))
    val df = docs.select(col("doc_id"))
      .join(text, Seq("doc_id")).join(img, Seq("doc_id")).join(audio, Seq("doc_id"))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"nested-loop join in:\n$plan")
    // survivorship is the map-side-combinable min per hash, never a window
    assert(!plan.contains("Window"), s"rank window leaked into:\n$plan")
  }

  test("audio near-dup: banded equi-join with inline verify, no cartesian") {
    val docs = tables.documents.select(col("doc_id"))
    val media = graft.ext.Multimodal.encodeAudioTones(docs)
      .unionByName(graft.ext.Multimodal.encodeAudioTones(docs, variant = true))
    val df = graft.ext.Multimodal.audioNearDups(media, maxHamming = 3)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"nested-loop join in:\n$plan")
  }

  test("phash near-dup: banded equi-join with inline verify, no cartesian") {
    val df = graft.ext.Multimodal.phashNearDups(
      graft.ext.Multimodal.encodePng(tables.documents), maxHamming = 3)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"nested-loop join in:\n$plan")
  }

  test("nearDupDeltaPairs: the delta side broadcasts into the candidate join, no state-keyed exchange on the probe path") {
    val docs = tables.documents
    val df = graft.ext.MinHash.nearDupDeltaPairs(
      graft.ext.MinHash.minhashAdd(docs.filter(col("doc_id") % 7 =!= 0), 3),
      docs.filter(col("doc_id") % 7 === 0), 3)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"nested-loop join in:\n$plan")
    // the 100 TB-correct candidate shape: the banded DELTA broadcasts,
    // the state ∪ delta side is probed in place — a SortMergeJoin here
    // would shuffle the whole signature index per delta
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast candidate join in:\n$plan")
  }

  test("mihDeltaPairs (phash/audio delta): the banded delta broadcasts, state probed in place") {
    val docs = tables.documents
    def m(p: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
      graft.ext.Multimodal.encodePng(docs.filter(p(col("doc_id"))))
    val df = graft.ext.Multimodal.phashNearDupDeltaPairs(
      graft.ext.Multimodal.phashAdd(m(_ % 7 =!= 0)), m(_ % 7 === 0), 3)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"nested-loop join in:\n$plan")
    // the 100 TB-correct candidate shape: the banded DELTA broadcasts,
    // the state ∪ delta side is probed in place — a SortMergeJoin here
    // would shuffle the whole sketch state per delta
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast candidate join in:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"state-keyed shuffle join in:\n$plan")
  }

  test("knnDeltaVsState: the routed delta broadcasts into the cell join, no state-keyed exchange") {
    val emb = tables.embeddings
    val cen = graft.ext.Cluster.kmeansCentroids(emb, k = 8, iters = 2)
    val scale = graft.ext.Cluster.sampledGridScale(emb, 1).get
    val state = graft.ext.Sim.ivfIndexAdd(emb.filter(col("vec_id") % 3 =!= 1), cen, scale)
    val df = graft.ext.Sim.knnDeltaVsState(state,
      emb.filter(col("vec_id") % 3 === 1), cen, scale, k = 5, nProbe = 2)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"nested-loop join in:\n$plan")
    // the 100 TB-correct candidate shape: the routed DELTA broadcasts,
    // the state ∪ delta side is probed in place — a SortMergeJoin here
    // would shuffle the whole vector index per delta
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast candidate join in:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"state-keyed shuffle join in:\n$plan")
  }

  test("editDistancePairs: built-in levenshtein verdict — no typed boundary, no cartesian on the pair path") {
    val df = graft.ext.Text.editDistancePairs(tables.documents, n = 3, w = 4, maxDist = 16)
    val plan = df.queryExecution.executedPlan.toString
    // the verdict is a plain built-in column, so the pair path never
    // leaves codegen, and the -1 → NULL mapping runs the DP once
    assert("levenshtein\\(".r.findAllIn(plan).size == 1, s"DP not evaluated once in:\n$plan")
    assert(!plan.contains("DeserializeToObject"), s"typed boundary in:\n$plan")
    assert(!plan.contains("SerializeFromObject"), s"typed boundary in:\n$plan")
    assert(!plan.contains("MapPartitions"), s"typed map in:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"nested-loop join in:\n$plan")
  }

  test("exactDupSpans: native codegen LCS — no typed boundary on the span path") {
    val df = graft.ext.Text.exactDupSpans(tables.documents, n = 3, w = 4, window = 32)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("DeserializeToObject"), s"typed boundary in:\n$plan")
    assert(!plan.contains("SerializeFromObject"), s"typed boundary in:\n$plan")
    assert(!plan.contains("MapPartitions"), s"typed map in:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
  }

  test("semDedupDeltaPairs: the delta index broadcasts into the cell join, no state-keyed exchange") {
    val emb = tables.embeddings
    val cen = graft.ext.Cluster.kmeansCentroids(emb, k = 8, iters = 2)
    val scale = graft.ext.Cluster.sampledGridScale(emb, 1).get
    val state = graft.ext.Sim.ivfIndexAdd(emb.filter(col("vec_id") % 3 =!= 1), cen, scale)
    val df = graft.ext.Sim.semDedupDeltaPairs(state,
      emb.filter(col("vec_id") % 3 === 1), cen, scale, threshold = 0.30)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"nested-loop join in:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast candidate join in:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"state-keyed shuffle join in:\n$plan")
  }

  test("gopher repetition: no window, no self-join — three keyed aggs on the doc spine") {
    val df = graft.ext.Text.gopherRepetition(tables.documents)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"nested-loop join in:\n$plan")
    assert(!plan.contains("Window"), s"rank window leaked into:\n$plan")
  }

  test("curation pipeline FromStates (merged two-delta states): same pinned shape") {
    val docs = tables.documents
    val w = graft.ext.Text.hashWeights(docs)
    val even = docs.filter(col("doc_id") % 2 <=> 0)
    val odd = docs.filter(!(col("doc_id") % 2 <=> 0))
    val df = graft.ext.Corpus.curationPipelineFromStates(docs,
      graft.ext.Text.mergeTrigrams(
        graft.ext.Text.trigramAdd(even), graft.ext.Text.trigramAdd(odd)),
      graft.ext.Text.mergeMargins(
        graft.ext.Text.marginAdd(even, w), graft.ext.Text.marginAdd(odd, w)),
      k = 40)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"nested-loop join in:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"profile/weight probes expected as broadcast hash joins in:\n$plan")
  }

  test("url normalize is pure codegen'd expressions — no exchange, no UDF, doc_id-only scan base") {
    val df = graft.ext.Web.urlNormalize(graft.ext.Web.urlTable(tables.documents))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected exchange in:\n$plan")
    assert(!plan.contains("BatchEvalPython") && !plan.contains("SerializeFromObject"),
      s"normalization left whole-stage codegen:\n$plan")
    val scan = scans(df).head
    assert(scan.requiredSchema.fieldNames.toSet == Set("doc_id"),
      s"scan reads ${scan.requiredSchema.fieldNames.mkString(",")}")
  }

  test("url dedup groups in ONE hash exchange (map-side combinable agg, no window)") {
    val df = graft.ext.Web.urlDupGroups(graft.ext.Web.urlTable(tables.documents))
    val plan = df.queryExecution.executedPlan.toString
    val ex = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(ex == 1, s"urlDupGroups planned $ex hash exchanges, want 1 in:\n$plan")
    assert(!plan.contains("Window"), s"rank window leaked into:\n$plan")
  }

  test("domain blocklist screen probes as a broadcast hash join — never shuffles the corpus") {
    val df = graft.ext.Web.domainScreen(graft.ext.Web.urlTable(tables.documents))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"blocklist expected as a broadcast hash join in:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"corpus-side shuffle for a tiny dimension in:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
  }

  test("html extraction / scene cuts / video fingerprints are narrow object pipelines") {
    import spark.implicits._
    val docs = tables.documents
    Seq(
      graft.ext.Multimodal.sceneCuts(
        graft.ext.Multimodal.encodeSceneVideo(docs)).toDF(),
      graft.ext.Multimodal.videoFingerprints(
        graft.ext.Multimodal.encodeVideo(docs)).toDF()
    ).foreach { df =>
      val plan = df.queryExecution.executedPlan.toString
      // heavy payloads decode where they live: no exchange anywhere
      assert(!plan.contains("Exchange"), s"unexpected exchange in:\n$plan")
    }
    // htmlExtract (r21): the per-char state machine carries a SCAN-AWARE
    // spread — at this tier the single-file source arrives as one task,
    // so exactly ONE repartition exchange fires below the state machine
    // (at >= cores splits the gate is identity and the pipeline is as
    // narrow as the other two). Pin exactly one, not "any".
    val htmlPlan = graft.ext.Web.htmlExtract(
      graft.ext.Web.htmlTable(docs).as[graft.ext.Web.HtmlDoc])
      .toDF().queryExecution.executedPlan.toString
    assert("Exchange".r.findAllMatchIn(htmlPlan).size == 1,
      s"expected exactly the one gated spread exchange in:\n$htmlPlan")
  }

  test("web curation keep-list: spine equi-joins only, broadcast domain verdicts, no window") {
    val docs = tables.documents
    val df = graft.ext.Web.webCurationKeeplist(docs,
      graft.ext.Text.qualityMargin(docs, graft.ext.Text.hashWeights(docs))
        .select(col("doc_id"), col("margin")), repThr = -175L)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"nested-loop join in:\n$plan")
    assert(!plan.contains("Window"), s"rank window leaked into:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"blocklist/reputation verdicts expected as broadcast probes in:\n$plan")
  }

  test("drift monitor: two keyed aggs + a broadcastable total join, no window, bounded state") {
    val df = graft.ext.Corpus.qualityDriftTvd(tables.documents)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"rank window leaked into:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
    // the totals and the per-bucket cells come out of ONE aggregation
    // (a totals join-back would recompute the state lineage and re-scan
    // the CORPUS — the original shape of this operator, caught here):
    // exactly one scan may feed the plan (string-counted: the scan sits
    // under the AQE node, invisible to executedPlan.collect)
    val nScans = "FileScan parquet".r.findAllIn(plan).length
    assert(nScans == 1, s"drift monitor re-scans the corpus ($nScans scans):\n$plan")
  }

  test("sampled brute truth: the residue filter sits BELOW the typed kernel boundary") {
    // the r19 defect: sampled(bruteTopK(E, k)) put the filter ABOVE the
    // typed MapPartitions, where Catalyst cannot push it — the n·|index|
    // kernel ran in full and discarded 2/3 of its rows. The two-frame
    // form must plan the filter as a descendant of the MapPartitions
    // node so the kernel's input genuinely shrinks to the sample.
    // asserted on the OPTIMIZED LOGICAL plan (the physical kernel hides
    // under the AQE wrapper, invisible to executedPlan.collect — same
    // caveat as the drift-monitor scan count)
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, MapPartitions}
    val emb = tables.embeddings
    val df = Sim.bruteTopK(emb.filter(col("vec_id") % 3 === 1), emb, 5)
    val plan = df.queryExecution.optimizedPlan
    val mps = plan.collect { case m: MapPartitions => m }
    assert(mps.nonEmpty, s"brute kernel must be a typed MapPartitions:\n$plan")
    val below = mps.flatMap(_.collect {
      case f: Filter if f.condition.toString.contains("% 3") => f })
    assert(below.nonEmpty, s"residue filter not below the typed kernel:\n$plan")
    // and no copy of it above the kernel (the r19 shape)
    val above = plan.collect {
      case f: Filter if f.condition.toString.contains("% 3") &&
          f.collect { case m: MapPartitions => m }.nonEmpty => f }
    assert(above.isEmpty, s"residue filter ABOVE the typed kernel:\n$plan")
  }
}
