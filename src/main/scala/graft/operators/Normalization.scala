package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Run topology normalization (SURVEY §2.4, N1-N4).
  *
  * OSM runs arrive as arbitrary way fragments with duplicated and
  * partially-overlapping geometry. The reference accumulates ALL runs
  * in one heap and runs topojson + graph walks
  * (`/root/reference/src/transforms/accumulator/RunNormalizerAccumulator.ts:16-55`,
  * `normalization/MergeOverlappingRuns.ts:25-171`,
  * `normalization/CombineRunSegments.ts:18-46`). Here the same semantics
  * are a shuffle pipeline — nothing ever materializes on one node:
  *
  *  N1  edges: explode each line into consecutive-point edges on a
  *      1e-7° quantized grid (canonical orientation), drop degenerates;
  *  N1b arc membership: ONE groupBy on (lo, hi) packed-long edge keys
  *      aggregates the member set AND carries each per-run occurrence
  *      through (collect_list + explode) — no join-back of the full
  *      edge table, one exchange instead of two;
  *  N2  re-segment: per run, split where the membership set changes
  *      (one sorted streaming walk per run), emit each shared arc once
  *      (owner = least member id), merged props from the member props;
  *  N3  chain-merge: segments with identical merged props meeting at a
  *      degree-2 endpoint are label-propagated into components and
  *      stitched back into one line per component (mapGroups; groups
  *      are single physical runs, so tiny). The label loop runs ONLY
  *      over pair-participating segments (the deg-2 minority — the
  *      full segment table never enters the loop) with pointer
  *      doubling, so it converges in O(log chain-length) tiny-table
  *      iterations.
  *
  * Representation: a quantized point is ONE long — `x<<32 | y&0xFFFFFFFF`
  * (lon·1e7 ≤ 1.8e9 and lat·1e7 ≤ 0.9e9 both fit in signed 32 bits).
  * Every shuffle/grouping key in the pipeline is therefore flat
  * fixed-width longs. This matters enormously: grouping on
  * struct-of-array keys forces slow non-UnsafeRow hashing/ordering
  * (~100 µs/row measured — 70 s for a 685 k-row groupBy at sf0.1);
  * packed-long keys take the vectorized hash path (<1 s for the same).
  *
  * Scale notes: the edge exchange is the one unavoidable shuffle (same
  * barrier the reference pays in RAM); everything after operates on
  * per-run or per-arc groups. Quantization at 1e-7° is our canonical
  * grid (SURVEY §4.2 risk 2) — output equivalence, not byte equality,
  * with topojson.
  */
object Normalization {

  private val Q = 1e7

  /** A coordinate as an integer on the 1e-7° grid, rounded half away
    * from zero: how the queries key and compare normalized output.
    */
  def quantized(c: Column): Column =
    (c * Q + when(c >= 0, 0.5).otherwise(-0.5)).cast("long")

  /** The oracles' twin of [[quantized]] (it rounds half up), and its
    * inverse.
    */
  def sqlQuantized(x: String): String =
    s"CAST(floor(($x * 10000000) + 0.5) AS BIGINT)"
  def sqlUnquantized(x: String): String = s"(CAST($x AS DOUBLE) / 10000000.0)"

  /** (x, y) quantized coordinates → one long. x, y must fit in int. */
  private def pack(x: Column, y: Column): Column =
    shiftleft(x, 32).bitwiseOR(y.bitwiseAND(lit(0xFFFFFFFFL)))

  private def unpackX(p: Column): Column = shiftright(p, 32)
  private def unpackY(p: Column): Column = shiftright(shiftleft(p, 32), 32)

  /** N4: how member props merge when runs share an arc, and how merged
    * props compare for chain-joining (N3). `mergeAgg` is an aggregate
    * expression over the per-arc member rows' `props` column; `hash`
    * must be a FLAT (64-bit) equality key — chain-merge groups on it.
    */
  trait PropsMerge {
    def mergeAgg: Column
    def hash(props: Column): Column = xxhash64(props)

    /** Whether merged props mark the feature as oneway — the N3 chain
      * stitcher must never REVERSE a oneway fragment (the reference's
      * PointGraph only expands in reverse for direction-free features,
      * `/root/reference/src/transforms/normalization/PointGraph.ts:70-76`).
      * Default: no direction semantics.
      */
    def onewayFlag(props: Column): Column = lit(false)
  }

  /** Plain string props: sorted-unique '+'-join (test/simple path). */
  object StringProps extends PropsMerge {
    def mergeAgg: Column =
      concat_ws("+", sort_array(collect_set(col("props"))))
  }

  /** Field-wise run-property priority lattice
    * (`/root/reference/src/transforms/normalization/RunJoining.ts:46-208`):
    * uses = set union; name/ref = trimmed-unique ", "-join; difficulty
    * picks the EASIEST value present (novice → extreme priority);
    * grooming classic+skating > skating > classic > mogul > scooter >
    * backcountry; status operating > construction > planned > proposed
    * > disused > abandoned; oneway = AND (null-skipping); the
    * true > false > null lattices are max(); wikidataID = first
    * non-null (canonicalized to min for determinism).
    *
    * Expects props struct {uses: array<string>, name, ref, difficulty,
    * grooming, status, oneway, gladed, patrolled, snowmaking,
    * snowfarming, tunnel, lit, wikidata_id}.
    */
  object RunPropsLattice extends PropsMerge {
    private def ranked(c: Column, order: Seq[String]): Column =
      order.zipWithIndex.foldRight(lit(order.size + 1)) {
        case ((v, i), acc) => when(c === v, lit(i + 1)).otherwise(acc)
      }
    private def unranked(r: Column, order: Seq[String]): Column =
      order.zipWithIndex.foldRight(lit(null).cast("string")) {
        case ((v, i), acc) => when(r === i + 1, lit(v)).otherwise(acc)
      }
    val difficultyOrder: Seq[String] = Seq("novice", "easy", "intermediate",
      "advanced", "expert", "freeride", "extreme")
    val groomingOrder: Seq[String] = Seq("classic+skating", "skating",
      "classic", "mogul", "scooter", "backcountry")
    val statusOrder: Seq[String] = Seq("operating", "construction",
      "planned", "proposed", "disused", "abandoned")

    private def joined(c: Column): Column = {
      val j = array_join(sort_array(collect_set(
        when(length(trim(c)) > 0, trim(c)))), ", ")
      when(j === "", lit(null).cast("string")).otherwise(j)
    }

    def mergeAgg: Column = {
      val p = col("props")
      struct(
        sort_array(array_distinct(flatten(
          collect_list(p.getField("uses"))))).as("uses"),
        joined(p.getField("name")).as("name"),
        joined(p.getField("ref")).as("ref"),
        unranked(min(ranked(p.getField("difficulty"), difficultyOrder)),
          difficultyOrder).as("difficulty"),
        unranked(min(ranked(p.getField("grooming"), groomingOrder)),
          groomingOrder).as("grooming"),
        unranked(min(ranked(p.getField("status"), statusOrder)),
          statusOrder).as("status"),
        min(p.getField("oneway")).as("oneway"),
        max(p.getField("gladed")).as("gladed"),
        max(p.getField("patrolled")).as("patrolled"),
        max(p.getField("snowmaking")).as("snowmaking"),
        max(p.getField("snowfarming")).as("snowfarming"),
        max(p.getField("tunnel")).as("tunnel"),
        max(p.getField("lit")).as("lit"),
        min(p.getField("wikidata_id")).as("wikidata_id"))
    }

    override def onewayFlag(props: Column): Column =
      coalesce(props.getField("oneway"), lit(false))
  }

  /** N1+N2: split runs into maximal arcs of constant run-membership.
    *
    * Input:  run_id: Long, props (any type), coords: array<array<double>>
    * Output: seg_run: Long (owner), seg_id: Long, members: array<long>,
    *         props (merged via `merge`), phash: Long,
    *         pts: array<long> (packed quantized)
    */
  def splitSharedArcs(runs: DataFrame,
      merge: PropsMerge = StringProps): DataFrame =
    streamedOwnedSegments(arcMembers(edgesOf(runs), merge), merge)

  /** N2 over the arc-membership rows: one hash exchange on run_id + a
    * spillable (run_id, idx) local sort + a streaming walk
    * ([[graft.plans.NormalizeSegmentsExec]]) that splits each run where
    * its membership changes and emits each owned stretch once.
    */
  private[graft] def streamedOwnedSegments(withM: DataFrame,
      merge: PropsMerge = StringProps): DataFrame = {
    val spark = withM.sparkSession
    graft.GraftExtensions.registerPlanning(spark)
    val flat = withM.select(col("run_id"), col("idx"), col("p1"),
      col("p2"), col("members"), col("mprops"), col("mh"))
    val analyzed = flat.queryExecution.analyzed
    val seg = org.apache.spark.sql.graftshim.SqlBridge.ofRows(spark,
      graft.plans.NormalizeSegmentsPlan(analyzed, analyzed.output))
    seg
      .withColumn("seg_id", segId(col("seg_run"), col("seg_no")))
      .withColumn("phash", merge.hash(col("props")))
      .select("seg_run", "seg_id", "members", "props", "phash", "pts")
  }

  /** N1 map stage: directed quantized edges with per-run position.
    *
    * Quantize-and-pack one point (array<double>, z ignored) → long.
    * Half-away-from-zero rounding as pure double math: Spark's
    * round() goes through BigDecimal via Double.toString — thread
    * dumps showed it dominating this stage's CPU.
    *
    * The canonical undirected key is (lo, hi) — two flat longs, the
    * fast grouping path. Edge pairs are formed with posexplode +
    * try_element_at(coords, pos+2), NOT zip_with/slice/transform:
    * higher-order functions are CodegenFallback (interpreted) and
    * dominated the map stage (~100 µs/row); this shape keeps the
    * whole stage codegen'd. (Exposed per-stage as graft.Profile's
    * `normalize.*` phases — composition is unchanged.)
    */
  private[graft] def edgesOf(runs: DataFrame): DataFrame = {
    def roundL(x: Column): Column =
      (x + when(x >= 0, 0.5).otherwise(-0.5)).cast("long")
    def packPt(p: Column): Column = pack(
      roundL(element_at(p, 1) * Q),
      roundL(element_at(p, 2) * Q))
    runs
      .select(col("run_id"), col("props"), col("coords"),
        posexplode(col("coords")))
      .filter(col("pos") < size(col("coords")) - 1)
      .select(col("run_id"), col("props"), col("pos").as("idx"),
        packPt(col("col")).as("p1"),
        // try_: the optimizer merges the two filters, and without
        // whole-stage codegen the merged predicate evaluates p2 on the
        // last point too, where element_at throws under ANSI
        packPt(try_element_at(col("coords"), col("pos") + 2)).as("p2"))
      .filter(col("p1") =!= col("p2"))
      .withColumn("lo", least(col("p1"), col("p2")))
      .withColumn("hi", greatest(col("p1"), col("p2")))
  }

  /** Arc membership in ONE exchange: aggregate the member set AND the
    * merged props per edge, carry every per-run occurrence through the
    * same groupBy (collect_SET — exact duplicate input rows, e.g.
    * synthesized way_id collisions, must not duplicate points), then
    * explode back out — replaces the groupBy + full-table join-back.
    */
  private[graft] def arcMembers(edges: DataFrame,
      merge: PropsMerge = StringProps): DataFrame =
    edges
      .groupBy("lo", "hi")
      .agg(
        sort_array(collect_set(col("run_id"))).as("members"),
        merge.mergeAgg.as("mprops"),
        collect_set(struct(col("run_id"), col("idx"),
          col("p1"), col("p2"))).as("occ"))
      .select(col("members"), col("mprops"), explode(col("occ")).as("o"))
      .select(col("o.run_id").as("run_id"), col("o.idx").as("idx"),
        col("o.p1").as("p1"), col("o.p2").as("p2"),
        col("members"), col("mprops"))
      // change detection key: a 64-bit hash of the member set — flat
      // long compares in the segment walk instead of array compares
      .withColumn("mh", xxhash64(col("members")))

  /** N3 candidate discovery: joinable endpoints where exactly 2
    * same-props segments touch (props equality via the flat 64-bit
    * phash — N3's isPartOfSameRun), as (a, b) seg_id pairs. (Exposed
    * per-stage as graft.Profile's `normalize.deg2_pairs`.)
    */
  private[graft] def deg2Pairs(segments: DataFrame): DataFrame = {
    val ends = segments.select(col("seg_id"), col("phash"),
      explode(array(element_at(col("pts"), 1),
        element_at(col("pts"), -1))).as("pt"))
    ends.groupBy("pt", "phash")
      .agg(collect_set("seg_id").as("segs"))
      .filter(size(col("segs")) === 2)
      .select(
        element_at(col("segs"), 1).as("a"),
        element_at(col("segs"), 2).as("b"))
      .filter(col("a") =!= col("b"))
  }

  /** Collision-free segment id: seg_run in the high bits, seg_no in
    * the low 20 — a multiplicative pack (`run * 100000 + no`) would
    * silently collide once a run exceeds 100 000 segments. A run with
    * ≥2^20 segments fails LOUDLY instead (OSM ways carry ≤2 000 nodes,
    * so the headroom is ~500×; synthetic inputs that blow past it get
    * an error, not wrong answers).
    */
  private[graft] def segId(segRun: Column, segNo: Column): Column =
    when(segNo >= (1L << 20),
      raise_error(concat(lit("run "), segRun,
        lit(" exceeds 2^20 segments; seg_id packing would collide"))))
      .otherwise(shiftleft(segRun, 20).bitwiseOR(segNo))

  /** Public (not private) so the Catalyst-generated encoder projection
    * class can instantiate it. Props stay out of the object path — the
    * stitcher only needs geometry plus the oneway flag; merged props
    * re-join by label.
    */
  case class LabeledSeg(label: Long, seg_id: Long, pts: Seq[Long],
      oneway: Boolean)

  /** N3: merge chains of segments with identical props that meet at
    * endpoints where exactly two same-props segments touch.
    * Returns run_id (component label), props, pts (stitched, packed).
    *
    * The connected-components loop never touches the full segment
    * table: `labels` holds only segments that appear in a deg-2 pair
    * (the overwhelming minority), each iteration does a min-neighbor
    * step plus a pointer-doubling step (label := label(label)), and
    * convergence is read from a `chg` flag computed inside the
    * already-checkpointed iteration output — no extra join+count job
    * over unchecked lineage.
    */
  def combineSegments(segmentsIn: DataFrame,
      merge: PropsMerge = StringProps): DataFrame = {
    val spark = segmentsIn.sparkSession
    import spark.implicits._
    // materialize: everything downstream (endpoint agg + final join)
    // would otherwise re-run the whole upstream pipeline per consumer.
    val segments = segmentsIn.localCheckpoint()

    val pairs = deg2Pairs(segments)

    // labels over pair participants ONLY — everything else is a
    // singleton component and never enters the loop (shared min-label +
    // pointer-doubling kernel, Clustering.minLabelComponents).
    val labels = Clustering.minLabelComponents(pairs)
      .withColumnRenamed("nid", "seg_id")

    // no chains at all → every segment is its own component; skip the
    // join-back, the stitch path and the props re-join entirely
    if (labels.isEmpty)
      return segments.select(col("seg_id").as("run_id"), col("props"),
        col("pts"))

    val labeledAll = segments
      .join(labels, Seq("seg_id"), "left")
      .withColumn("label", coalesce(col("label"), col("seg_id")))

    // Only multi-segment components need the object-path stitch; the
    // overwhelming majority of components are singletons and stay in
    // the columnar path (the Dataset deserializer is the hot spot
    // otherwise).
    val multiLabels = labels.filter(col("seg_id") =!= col("label"))
      .select("label").distinct()
    val singles = labeledAll
      .join(multiLabels, Seq("label"), "left_anti")
      .select(col("label").as("run_id"), col("props"), col("pts"))
    val multiSegs = labeledAll
      .join(broadcast(multiLabels), Seq("label"))
    val stitched = multiSegs
      .select(col("label"), col("seg_id"), col("pts"),
        merge.onewayFlag(col("props")).as("oneway"))
      .as[LabeledSeg]
      .groupByKey(_.label)
      .flatMapGroups { (label, it) =>
        // sort by seg_id so the walk's starting fragment (and hence a
        // direction-free chain's orientation) is deterministic across
        // runs — group iterator order is shuffle-dependent
        val segs = it.toSeq.sortBy(_.seg_id)
        // props are phash-identical across a component, so the oneway
        // flag is one value per component
        stitch(segs.map(_.pts), segs.head.oneway) match {
          case Some(pts) => Iterator.single((label, label, pts))
          // pathological component (walk can't order the fragments, or
          // merging would require reversing a oneway fragment): leave
          // every segment unmerged, mirroring the reference, whose
          // PointGraph only follows matching endpoints and never
          // reverse-expands a feature with direction
          // (/root/reference/src/transforms/normalization/PointGraph.ts:70-127)
          case None => segs.iterator.map(s => (s.seg_id, label, s.pts))
        }
      }
      .toDF("run_id", "label", "pts")
    // chain members have identical props by construction (phash-equal);
    // re-attach any member's merged props per component label.
    val chainProps = multiSegs.groupBy(col("label"))
      .agg(first(col("props")).as("props"))
    val multis = stitched.join(chainProps, "label")
      .select(col("run_id"), col("props"), col("pts"))
    singles.unionByName(multis)
  }

  /** Stitch polyline fragments that pairwise share endpoints into one
    * line. Greedy walk from a degree-1 endpoint (or, for a pure cycle,
    * from an arbitrary fragment — the reference's PointGraph likewise
    * merges cycles into one closed line, since `_expand` follows
    * inbound/outbound matches until it re-reaches a processed feature,
    * `/root/reference/src/transforms/normalization/PointGraph.ts:80-127`).
    *
    * Direction: fragments are reversed as needed ONLY when `oneway` is
    * false. A oneway component must preserve every fragment's
    * direction (the reference's `_expandInReverse` is gated on
    * `!hasDirection`, PointGraph.ts:70-76), so the walk follows
    * head-to-tail matches only and starts from the fragment whose head
    * no other fragment feeds.
    *
    * Returns None when the walk cannot consume every fragment (a
    * component the endpoint-following walk can't linearize, or a
    * oneway chain that would need a reversal) — the caller leaves
    * those segments unmerged, exactly as the reference does by
    * construction: PointGraph only ever concatenates at matching
    * endpoints and would throw rather than emit a disconnected
    * geometry (PointGraph.ts:55-57).
    * Generic in the point type — only endpoint equality is used.
    */
  private[graft] def stitch[P](frags: Seq[Seq[P]],
      oneway: Boolean = false): Option[Seq[P]] = {
    if (frags.size == 1) return Some(frags.head)
    val remaining = scala.collection.mutable.ArrayBuffer(frags: _*)
    val out = scala.collection.mutable.ArrayBuffer[P]()
    if (oneway) {
      // directed walk: start where no other fragment's tail feeds the
      // head; never reverse
      val tails = frags.map(_.last).toSet
      val startIdx = remaining.indexWhere(f => !tails.contains(f.head))
      val first = if (startIdx >= 0) remaining.remove(startIdx)
        else remaining.remove(0) // pure directed cycle
      out ++= first
      var extended = true
      while (remaining.nonEmpty && extended) {
        extended = false
        val tail = out.last
        val i = remaining.indexWhere(f => f.head == tail)
        if (i >= 0) {
          out ++= remaining.remove(i).drop(1)
          extended = true
        }
      }
    } else {
      // find a fragment with an endpoint not shared by any other fragment
      val counts = scala.collection.mutable.Map[P, Int]()
      frags.foreach { f =>
        counts(f.head) = counts.getOrElse(f.head, 0) + 1
        counts(f.last) = counts.getOrElse(f.last, 0) + 1
      }
      val startIdx = remaining.indexWhere(f =>
        counts(f.head) == 1 || counts(f.last) == 1)
      val first = if (startIdx >= 0) remaining.remove(startIdx)
        else remaining.remove(0)
      out ++= (if (startIdx >= 0 && counts(first.head) != 1) first.reverse
        else first)
      var extended = true
      while (remaining.nonEmpty && extended) {
        extended = false
        val tail = out.last
        val i = remaining.indexWhere(f => f.head == tail || f.last == tail)
        if (i >= 0) {
          val f = remaining.remove(i)
          val oriented = if (f.head == tail) f else f.reverse
          out ++= oriented.drop(1)
          extended = true
        }
      }
    }
    // anything unreachable → not a linearizable chain: leave unmerged
    if (remaining.nonEmpty) None else Some(out.toSeq)
  }

  /** Full N1→N3 pipeline; returns run_id, props, coords (degrees). */
  def normalizeRuns(runs: DataFrame,
      merge: PropsMerge = StringProps): DataFrame = {
    val segs = splitSharedArcs(runs, merge)
    combineSegments(segs, merge)
      .select(col("run_id"), col("props"),
        transform(col("pts"), p => array(
          unpackX(p).cast("double") / Q,
          unpackY(p).cast("double") / Q)).as("coords"))
  }
}
