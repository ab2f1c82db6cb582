package graft

import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** Registry-wide driver-comparability lint — the invariants two rounds
  * of driver red rows taught, enforced at build time for EVERY query
  * instead of rediscovered one artifact at a time:
  *
  *  - r11 (q164): a top-level array column raises "unhashable type"
  *    in the driver's pandas row-sort canon → outputs must be scalar.
  *  - r13 (q183): DATE columns arrive as python-object from Spark
  *    parquet but datetime64 from DuckDB — same values, different
  *    dtype kind → dates/timestamps ship as formatted strings.
  *  - names must be unique (the correctness file is keyed by name) and
  *    column names unique within a query (pandas silently mangles
  *    duplicates).
  *
  * The DuckDB side of the same gate lives in tools/compare.py (the
  * post-canon dtype assert added r13): this spec pins the Spark half
  * that is checkable without a DuckDB runtime. Schema derivation needs
  * only plan analysis, so the walk stays cheap even at 200+ queries —
  * the handful of queries with eager sub-steps (counts, sortByKey
  * partitioners) run them at sf0.001.
  */
class RegistryLintSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("registry: query names are unique and well-formed") {
    val names = graft.queries.Registry.all.map(_.name)
    assert(names.distinct.size == names.size,
      s"duplicate names: ${names.diff(names.distinct).mkString(",")}")
    assert(names.forall(_.matches("q[0-9]+[a-z0-9_]*")),
      s"non-conforming: ${names.filterNot(_.matches("q[0-9]+[a-z0-9_]*"))}")
  }

  /** Findings of the one pass over the registry, one list per check. */
  private case class Findings(schema: Seq[String], broadcast: Seq[String],
      window: Seq[String], scan: Seq[String])

  /** Every query's frame is built ONCE per spec run (its eager counts,
    * plan asserts and streaming drains run once), and every per-query
    * check runs on that frame: the plan lints before the query's
    * cleanup, because the NDV and scan probes execute subplans that can
    * reference checkpoint blocks `releaseAll` destroys; the residue
    * checks after it. */
  private lazy val findings: Findings = {
    val schema, broadcast, window, scan =
      scala.collection.mutable.ArrayBuffer.empty[String]
    def scratchEntries: Set[String] =
      scala.util.Using.resource(java.nio.file.Files.list(Scratch.base)) {
        s => s.iterator().asScala.map(_.getFileName.toString).toSet
      }
    def tempViews: Set[String] =
      spark.sessionState.catalog.getTempViewNames().toSet
    // the one intentionally sticky setting (Tables.nanosAsLong) goes in
    // first, so the per-query conf comparison below sees only drift
    Tables(spark, dir, "region")
    for (q <- graft.queries.Registry.all) {
      val confBefore = spark.conf.getAll
      val viewsBefore = tempViews
      val scratchBefore = scratchEntries
      val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet
      try {
        val df = q.fn(spark, dir)
        val sch = df.schema
        val dup = sch.fieldNames.diff(sch.fieldNames.distinct)
        if (dup.nonEmpty)
          schema += s"${q.name}: duplicate columns ${dup.mkString(",")}"
        for (f <- sch.fields) f.dataType match {
          case _: ArrayType | _: MapType | _: StructType | NullType |
              BinaryType =>
            schema += s"${q.name}.${f.name}: ${f.dataType.simpleString} " +
              "(driver canon cannot sort/hash it — stringify)"
          case DateType | _: TimestampType | TimestampNTZType =>
            schema += s"${q.name}.${f.name}: ${f.dataType.simpleString} " +
              "(pandas dtype kind differs between Spark parquet and " +
              "DuckDB — emit a formatted string instead)"
          case _ => ()
        }
        // each lint on its own, so one lint's failure hides no other
        def lint(out: scala.collection.mutable.ArrayBuffer[String])(
            f: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =>
              Seq[String]): Unit =
          try out ++= f(df.queryExecution.analyzed).map(w => s"${q.name}: $w")
          catch { case _: Throwable => () }
        lint(broadcast)(BroadcastLint.unboundedBroadcasts(_).map(k =>
          s"broadcast over groupBy($k) — unbounded cardinality; drop the " +
            "hint or bound with top-k"))
        lint(window)(BroadcastLint.globalWindowsOverCorpus)
        // NDV-aware companion (r15 verdict #3): an Aggregate bounds
        // the frame only if its key's value domain does — probe it
        lint(window)(BroadcastLint.aggWindowsOverUnboundedNdv(_, spark))
        lint(scan)(BroadcastLint.singlePartitionCorpusScans(_, spark))
      } catch {
        case e: Throwable =>
          schema += s"${q.name}: fn threw ${e.getClass.getSimpleName}: " +
            String.valueOf(e.getMessage).take(120)
      }
      CacheRegistry.releaseAll()
      spark.catalog.clearCache()
      // every session-conf override, temp view, scratch dir and persist
      // must be released on every exit
      val confAfter = spark.conf.getAll
      val drift = (confBefore.keySet ++ confAfter.keySet).toSeq.sorted
        .filter(k => confBefore.get(k) != confAfter.get(k))
        .map(k => s"$k: ${confBefore.getOrElse(k, "<unset>")} -> " +
          confAfter.getOrElse(k, "<unset>"))
      if (drift.nonEmpty)
        schema += s"${q.name}: session conf drift ${drift.mkString("; ")}"
      val viewsLeft = (tempViews -- viewsBefore).toSeq.sorted
      if (viewsLeft.nonEmpty)
        schema += s"${q.name}: temp view residue ${viewsLeft.mkString(", ")}"
      val scratchLeft = (scratchEntries -- scratchBefore).toSeq.sorted
      if (scratchLeft.nonEmpty)
        schema += s"${q.name}: scratch residue ${scratchLeft.mkString(", ")}"
      val rddsLeft = persistedSince(rddsBefore)
      if (rddsLeft.nonEmpty)
        schema += s"${q.name}: persistent RDD residue " +
          rddsLeft.mkString("; ").take(300)
    }
    Findings(schema.toSeq, broadcast.toSeq, window.toSeq, scan.toSeq)
  }

  test("every query's output schema is scalar, driver-hashable, " +
      "deduplicated — no arrays/structs/maps/dates at top level") {
    assert(findings.schema.isEmpty, "\n" + findings.schema.mkString("\n"))
  }

  test("no broadcast hint whose build side derives from an " +
      "unbounded-key groupBy (per-user/doc/node frames grow with the " +
      "data; a hint forces a driver collect at any size)") {
    assert(findings.broadcast.isEmpty,
      "\n" + findings.broadcast.mkString("\n"))
  }

  test("no global (unpartitioned) ordered Window directly over " +
      "corpus-cardinality rows — a single-partition sort of the " +
      "whole input at 100 TB") {
    assert(findings.window.isEmpty, "\n" + findings.window.mkString("\n"))
  }

  test("no single-partition DSv2 BatchScan over corpus-proportional " +
      "rows — a connector that plans one InputPartition for a big " +
      "table serializes the whole read at 100 TB") {
    assert(findings.scan.isEmpty, "\n" + findings.scan.mkString("\n"))
  }

  test("single-partition-scan lint catches a deliberately misused " +
      "one-group catalog table holding the corpus, and passes " +
      "multi-group and bounded-rollup tables") {
    val root = java.nio.file.Files.createTempDirectory("graft_lint_cat")
    val cat = s"graftlint${System.nanoTime()}"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root.toString)
    try {
      spark.read.parquet(s"$dir/orders.parquet")
        .createOrReplaceTempView(s"ord_$cat")
      // MISUSE: the whole corpus shoved into ONE group file — the
      // scan plans a single InputPartition for corpus-sized data
      spark.sql(s"CREATE TABLE $cat.db.big (k BIGINT, seg STRING, " +
        "v BIGINT)")
      spark.sql(s"INSERT INTO $cat.db.big " +
        s"SELECT /*+ REPARTITION(1) */ o_orderkey, o_orderpriority, " +
        s"cast(round(o_totalprice * 100) as bigint) FROM ord_$cat")
      val flagged = BroadcastLint.singlePartitionCorpusScans(
        spark.sql(s"SELECT sum(v) AS s FROM $cat.db.big")
          .queryExecution.analyzed, spark)
      assert(flagged.nonEmpty,
        "a 1-group corpus-sized catalog scan escaped the lint")
      // the SAME corpus across several groups: parallel scan, passes
      spark.sql(s"CREATE TABLE $cat.db.sharded (k BIGINT, seg STRING, " +
        "v BIGINT)")
      for (m <- 0 to 3)
        spark.sql(s"INSERT INTO $cat.db.sharded " +
          s"SELECT /*+ REPARTITION(1) */ o_orderkey, o_orderpriority, " +
          s"cast(round(o_totalprice * 100) as bigint) FROM ord_$cat " +
          s"WHERE o_orderkey % 4 = $m")
      assert(BroadcastLint.singlePartitionCorpusScans(
        spark.sql(s"SELECT sum(v) AS s FROM $cat.db.sharded")
          .queryExecution.analyzed, spark).isEmpty)
      // a bounded rollup in one group is fine — small data, one task
      spark.sql(s"CREATE TABLE $cat.db.small (k BIGINT, seg STRING, " +
        "v BIGINT)")
      spark.sql(s"INSERT INTO $cat.db.small " +
        s"SELECT /*+ REPARTITION(1) */ o_orderkey % 50, " +
        s"max(o_orderpriority), " +
        s"sum(cast(round(o_totalprice * 100) as bigint)) " +
        s"FROM ord_$cat GROUP BY 1")
      assert(BroadcastLint.singlePartitionCorpusScans(
        spark.sql(s"SELECT sum(v) AS s FROM $cat.db.small")
          .queryExecution.analyzed, spark).isEmpty)
    } finally {
      spark.conf.unset(s"spark.sql.catalog.$cat")
      spark.conf.unset(s"spark.sql.catalog.$cat.root")
      graft.streaming.StreamingResidue.deleteRecursively(root)
    }
  }

  test("global-window lint catches a deliberate raw-corpus window " +
      "and passes the histogram-rank idiom") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val ev = spark.read.parquet(s"$dir/events.parquet")
    // raw corpus rows under a global ordered window: must flag
    val rawRank = ev.withColumn("rn",
      row_number().over(Window.orderBy("ts")))
    assert(BroadcastLint.globalWindowsOverCorpus(
      rawRank.queryExecution.analyzed).nonEmpty)
    // the q194/q310 idiom — a value-histogram aggregate RE-KEYS the
    // frame to the bounded value domain before the ordered window
    val hist = ev.groupBy("event_type").agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum("cnt").over(Window.orderBy("event_type")))
    assert(BroadcastLint.globalWindowsOverCorpus(
      hist.queryExecution.analyzed).isEmpty)
  }

  test("NDV-aware window lint flags a value histogram keyed by a " +
      "corpus-proportional key (the shape that slipped past the " +
      "Aggregate-bounds-everything assumption in round 15's q326) " +
      "and passes bounded-domain histograms") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val ord = spark.read.parquet(s"$dir/orders.parquet")
    // price cents are near-unique: the "histogram" IS the corpus, and
    // the global ordered window sorts it on one task — must flag
    val centsHist = ord
      .select(expr("cast(round(o_totalprice * 100) as bigint)").as("x"))
      .groupBy("x").agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum("cnt").over(Window.orderBy("x")))
    assert(BroadcastLint.aggWindowsOverUnboundedNdv(
      centsHist.queryExecution.analyzed, spark).nonEmpty,
      "corpus-proportional NDV histogram under a global window " +
        "escaped the lint")
    // ...and the static lint alone would NOT have caught it (the
    // Aggregate shields it) — the probe is load-bearing, not redundant
    assert(BroadcastLint.globalWindowsOverCorpus(
      centsHist.queryExecution.analyzed).isEmpty)
    // a bounded value domain (order priorities: ≤5 values) collapses
    // the corpus at any SF — must pass
    val prioHist = ord.groupBy("o_orderpriority")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum("cnt").over(Window.orderBy("o_orderpriority")))
    assert(BroadcastLint.aggWindowsOverUnboundedNdv(
      prioHist.queryExecution.analyzed, spark).isEmpty)
    // a rank-filtered top-k over the same near-unique histogram is
    // WindowGroupLimit-bounded — must pass
    val topk = ord
      .select(expr("cast(round(o_totalprice * 100) as bigint)").as("x"))
      .groupBy("x").agg(count(lit(1)).as("cnt"))
      .withColumn("rk",
        row_number().over(Window.orderBy(desc("cnt"), col("x"))))
      .where(col("rk") <= 10)
    assert(BroadcastLint.aggWindowsOverUnboundedNdv(
      topk.queryExecution.analyzed, spark).isEmpty)
  }

  test("no fixed-resolution LSH blocking in query sources: near-dup " +
      "blocking must use the calibrated default — q67 stays the one " +
      "pinned fixed-resolution control") {
    // Fixed-plane sign buckets over a corpus-scaled input are the
    // quadratic trap q67 measured (59× pair work at 100× rows, vs
    // 4.7× calibrated): with resolution pinned, occupancy grows
    // linearly and within-bucket pairs quadratically. The calibrated
    // default (Similarity.lshBucketed) is the only sanctioned
    // blocking entry point in query code; the explicit
    // `lshBucketFixed` escape hatch may appear exactly once — the q67
    // control — and this lint turns any new use red at build time.
    def fixedSites(src: String): Seq[Int] =
      src.linesIterator.zipWithIndex.collect {
        case (l, i) if l.contains("lshBucketFixed(") => i + 1
      }.toSeq
    val qdir = new java.io.File("src/main/scala/graft/queries")
    val hits = Option(qdir.listFiles()).getOrElse(Array.empty).toSeq
      .filter(_.getName.endsWith(".scala")).sortBy(_.getName)
      .flatMap { f =>
        val src = new String(
          java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        fixedSites(src).map(l => s"${f.getName}:$l")
      }
    assert(hits.size == 1 && hits.head.startsWith("SimilarityQueries"),
      s"fixed-resolution LSH blocking outside the pinned q67 control: " +
        s"$hits")
    // red/green: the lint actually sees a planted regression
    assert(fixedSites(
      "val b = Similarity.lshBucketFixed(col(\"e\"), 64, 6)") == Seq(1))
  }

  test("no fixed-resolution audio blocking in query sources: " +
      "Audio.nearDup (calibrated triplet keys) is the sanctioned " +
      "entry point — q134 stays the one pinned pair-key control") {
    // Pair keys over a 120-bin peak alphabet are the audio form of
    // the fixed-resolution trap (37× pair work at 100× rows vs 11.9×
    // calibrated, measured by q134-vs-q413). The `nearDupFixed`
    // escape hatch may appear exactly once — the q134 control.
    def fixedSites(src: String): Seq[Int] =
      src.linesIterator.zipWithIndex.collect {
        case (l, i) if l.contains("nearDupFixed(") => i + 1
      }.toSeq
    val qdir = new java.io.File("src/main/scala/graft/queries")
    val hits = Option(qdir.listFiles()).getOrElse(Array.empty).toSeq
      .filter(_.getName.endsWith(".scala")).sortBy(_.getName)
      .flatMap { f =>
        val src = new String(
          java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        fixedSites(src).map(l => s"${f.getName}:$l")
      }
    assert(hits.size == 1 && hits.head.startsWith("MultimodalQueries"),
      s"fixed-resolution audio blocking outside the pinned q134 " +
        s"control: $hits")
    // red/green: the lint actually sees a planted regression
    assert(fixedSites(
      "val d = Audio.nearDupFixed(sigs)") == Seq(1))
  }

  test("broadcast lint catches a deliberately-hinted regression") {
    import org.apache.spark.sql.functions._
    val ev = spark.read.parquet(s"$dir/events.parquet")
    val perUser = ev.groupBy("user_id").agg(min("ts").as("t1"))
    val joined = ev.join(broadcast(perUser), Seq("user_id"))
    assert(BroadcastLint.unboundedBroadcasts(
      joined.queryExecution.analyzed).nonEmpty)
    // a top-k bound below the hint makes the build side legitimate
    val bounded = ev.join(broadcast(perUser.orderBy("t1").limit(100)),
      Seq("user_id"))
    assert(BroadcastLint.unboundedBroadcasts(
      bounded.queryExecution.analyzed).isEmpty)
  }
}

/** Plan-walk helper for the unbounded-broadcast lint: finds broadcast
  * hints (ResolvedHint with a BROADCAST strategy) whose subtree
  * contains an Aggregate grouping on an unbounded entity key
  * (user/doc/node/customer ids — cardinalities that scale with the
  * data) with no intervening LIMIT to bound the frame. Returns the
  * offending grouping column names.
  */
object BroadcastLint {
  import org.apache.spark.sql.catalyst.plans.logical._
  import org.apache.spark.sql.catalyst.expressions
  import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference}

  private val unboundedKeys =
    Set("user_id", "doc_id", "emb_id", "node", "c_custkey", "o_custkey",
      "o_orderkey", "l_orderkey")

  def unboundedBroadcasts(plan: LogicalPlan): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    plan.foreach {
      case h: ResolvedHint if h.hints.strategy.exists(
          _.toString.contains("broadcast")) =>
        out ++= offendingKeys(h.child)
      case _ => ()
    }
    out.toSeq.distinct
  }

  /** Global ordered-Window nodes whose input is CORPUS-cardinality:
    * partitionSpec empty + orderSpec non-empty moves every input row
    * to one task. The frame is considered bounded when an Aggregate
    * (re-keys to its grouping domain — the histogram-rank idiom) or a
    * Limit sits between the Window and the relation; a window sitting
    * directly on relation rows is flagged. Returns descriptions. */
  def globalWindowsOverCorpus(plan: LogicalPlan): Seq[String] = {
    val rankLimited = rankLimitedIds(plan)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    plan.foreach {
      case w: Window
          if w.partitionSpec.isEmpty && w.orderSpec.nonEmpty &&
            !rankLimited.contains(System.identityHashCode(w)) &&
            reachesRelationUnbounded(w.child) =>
        out += s"global ordered Window over corpus rows " +
          s"(order=${w.orderSpec.map(_.sql).mkString(",")})"
      case _ => ()
    }
    out.toSeq
  }

  /** The NDV-aware companion of [[globalWindowsOverCorpus]] — closes
    * the blind spot that admitted q326 (verdict r15 #3): that lint
    * treats ANY Aggregate/Distinct as re-keying the frame to a
    * bounded value domain, but a grouping key whose NDV is
    * corpus-proportional (price cents, doc ids) defeats it — the
    * "histogram" under the global window still has ~|corpus| rows
    * and one task sorts it all. Static analysis can't know a key's
    * domain, so this check probes EMPIRICALLY at the lint's tiny SF:
    * for each unpartitioned ordered Window whose frame is bounded
    * only by an Aggregate/Distinct (no Limit in between), count that
    * node's output rows vs its input rows and flag when
    * out > max(1000, in/10) — a bounded value domain collapses
    * multiple corpus rows per value even at sf0.001; a
    * corpus-proportional key does not. Probe failures (streaming
    * relations, staged temp paths) are skipped — those shapes are
    * covered by their own specs. */
  def aggWindowsOverUnboundedNdv(plan: LogicalPlan,
      spark: org.apache.spark.sql.SparkSession): Seq[String] = {
    val rankLimited = rankLimitedIds(plan)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    def countRows(p: LogicalPlan): Long = {
      import org.apache.spark.sql.catalyst.expressions.aggregate.Count
      import org.apache.spark.sql.catalyst.expressions.{Alias, Literal}
      val cnt = Alias(Count(Literal(1)).toAggregateExpression(), "cnt")()
      spark.sessionState.executePlan(Aggregate(Nil, Seq(cnt), p))
        .executedPlan.executeCollect().head.getLong(0)
    }
    // the first re-keying node on each path below the window, unless a
    // Limit already bounds the frame above it
    def boundingNodes(p: LogicalPlan): Seq[(LogicalPlan, LogicalPlan)] =
      p match {
        case _: GlobalLimit | _: LocalLimit => Nil
        case a: Aggregate =>
          if (a.groupingExpressions.isEmpty) Nil // global agg: 1 row
          else Seq((a, a.child))
        case d: Distinct => Seq((d, d.child))
        case d: Deduplicate => Seq((d, d.child))
        case other => other.children.flatMap(boundingNodes)
      }
    plan.foreach {
      case w: Window
          if w.partitionSpec.isEmpty && w.orderSpec.nonEmpty &&
            !rankLimited.contains(System.identityHashCode(w)) =>
        boundingNodes(w.child).foreach { case (node, input) =>
          try {
            val outN = countRows(node)
            if (outN > 1000) { // cheap pre-gate: tiny frames never flag
              val inN = countRows(input)
              if (outN > math.max(1000L, inN / 10))
                out += "global ordered Window over " +
                  s"${node.getClass.getSimpleName} with corpus-" +
                  s"proportional key NDV ($outN of $inN input rows " +
                  "at lint SF) — one task sorts ~the corpus at 100 TB"
            }
          } catch { case _: Throwable => () }
        }
      case _ => ()
    }
    out.toSeq
  }

  /** The DSv2 sibling of the window lints (r16 verdict #7): a custom
    * connector whose Batch plans ONE InputPartition for
    * corpus-proportional data serializes the whole read on one task —
    * exactly the shape round 16's one-group-per-table GraftCatalog
    * had. For every DataSourceV2Relation leaf in the analyzed plan,
    * plan its scan (driver-side only — no job runs for the partition
    * count) and, when it yields a single partition, probe the
    * relation's row count at the lint's tiny SF; corpus tables exceed
    * 1000 rows even at sf0.001 while bounded rollups stay under.
    * Streaming relations and probe failures are skipped — covered by
    * their own specs. */
  def singlePartitionCorpusScans(plan: LogicalPlan,
      spark: org.apache.spark.sql.SparkSession): Seq[String] = {
    import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, DataSourceV2Relation}
    import org.apache.spark.sql.catalyst.expressions.aggregate.Count
    import org.apache.spark.sql.catalyst.expressions.{Alias, Literal}
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    plan.foreach {
      case r: DataSourceV2Relation =>
        try {
          val scans = spark.sessionState.executePlan(r).executedPlan
            .collect { case b: BatchScanExec => b }
          scans.foreach { b =>
            // FileScan partitioning is BYTE-driven (maxPartitionBytes):
            // a tiny lint-SF parquet reads as one partition but splits
            // automatically as the corpus grows — the lint targets
            // connectors with FIXED group geometry, where one
            // partition at any SF stays one partition at 100 TB
            val byteDriven = b.scan.isInstanceOf[
              org.apache.spark.sql.execution.datasources.v2.FileScan]
            val nParts = b.scan.toBatch.planInputPartitions().length
            if (nParts == 1 && !byteDriven) {
              val cnt = Alias(Count(Literal(1)).toAggregateExpression(),
                "cnt")()
              val rows = spark.sessionState
                .executePlan(Aggregate(Nil, Seq(cnt), r))
                .executedPlan.executeCollect().head.getLong(0)
              if (rows > 1000)
                out += s"single-partition BatchScan " +
                  s"(${b.scan.getClass.getSimpleName}) reading $rows " +
                  "rows at lint SF — one task reads ~the corpus at " +
                  "100 TB; key the source's groups/files so the scan " +
                  "plans parallel partitions"
            }
          }
        } catch { case _: Throwable => () }
      case _ => ()
    }
    out.toSeq
  }

  /** Windows bounded by an ADJACENT RANK FILTER (rk <= k over the
    * window's own rank output) are exempt from the global-window
    * lints: Spark's WindowGroupLimit keeps k rows per partition
    * BEFORE the single-partition stage, so only numPartitions·k rows
    * ever reach one task (the q220 top-k idiom). */
  private def rankLimitedIds(plan: LogicalPlan): Set[Int] = {
    val rankLimited = scala.collection.mutable.Set.empty[Int]
    def stripProjects(p: LogicalPlan): LogicalPlan = p match {
      case Project(ps, c) if ps.forall(_.isInstanceOf[Attribute]) ||
          ps.forall(_.deterministic) => stripProjects(c)
      case other => other
    }
    plan.foreach {
      case Filter(cond, child) => stripProjects(child) match {
        case w: Window =>
          val rankAttrs = w.windowExpressions.map(_.exprId).toSet
          val isRankBound = cond.exists {
            case expressions.LessThanOrEqual(a: AttributeReference,
                expressions.Literal(_, _)) => rankAttrs.contains(a.exprId)
            case expressions.LessThan(a: AttributeReference,
                expressions.Literal(_, _)) => rankAttrs.contains(a.exprId)
            case expressions.EqualTo(a: AttributeReference,
                expressions.Literal(_, _)) => rankAttrs.contains(a.exprId)
            case _ => false
          }
          if (isRankBound) rankLimited += System.identityHashCode(w)
        case _ => ()
      }
      case _ => ()
    }
    rankLimited.toSet
  }

  /** True when `p` reaches a leaf relation without passing an
    * Aggregate / Distinct / Deduplicate (all re-key the frame to a
    * value domain — the histogram-rank and vocab idioms) or a Limit —
    * i.e. the frame still has corpus cardinality. Stacked Windows
    * look through. */
  private def reachesRelationUnbounded(p: LogicalPlan): Boolean = p match {
    case _: GlobalLimit | _: LocalLimit | _: Aggregate | _: Distinct |
        _: Deduplicate => false
    case leaf if leaf.children.isEmpty =>
      // relations/scans are corpus-sized; tiny literal frames
      // (LocalRelation from Seq.toDF) are bounded by construction
      !leaf.getClass.getSimpleName.contains("LocalRelation")
    case other => other.children.exists(reachesRelationUnbounded)
  }

  /** Unbounded grouping keys in `p`, not shielded by a Limit. An
    * Aggregate RE-KEYS the frame to its own grouping columns: the
    * broadcast ships one row per outer key, so only the OUTERMOST
    * aggregate on each path determines cardinality — recursion stops
    * there (a global aggregate is 1 row; a bounded-key rollup over a
    * per-user frame ships only the rollup). */
  private def offendingKeys(p: LogicalPlan): Seq[String] = p match {
    case _: GlobalLimit | _: LocalLimit => Nil // bounded below here
    case a: Aggregate =>
      a.groupingExpressions.collect {
        case ar: AttributeReference
            if unboundedKeys.contains(ar.name.toLowerCase) => ar.name
      }
    case other => other.children.flatMap(offendingKeys)
  }
}
