package graft.operators

import graft.QuerySpec
import graft.functions.HashFunctions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** GeoPackage sink row semantics (SURVEY S7) and the output-merger
  * (S11) as DataFrames.
  *
  * The reference writes four typed SQLite layers
  * (`/root/reference/src/io/GeoPackageWriter.ts:154-467`: SKI_AREA /
  * LIFT / RUN / SPOT schemas over a COMMON_SCHEMA prefix, ski areas
  * additionally reduced to a `_point` centroid layer, booleans stored
  * as SQLite 0/1/NULL via `toSQLiteBoolean`, :37-42) and merges
  * per-region GeoPackages by skipping rows whose `feature_id` already
  * exists in the target (`GeoPackageMerger.ts:161-201`, INSERT OR
  * IGNORE + a feature_id set — first writer wins).
  *
  * Since round 13 the engine also writes the SQLite CONTAINER itself
  * (`q_gpkg_sqlite` below, via [[graft.sources.SqliteFile]] — a
  * from-scratch page serializer, no sqlite library): typed row
  * projections, geometry BLOBs, AND the .gpkg file. The merger's
  * id-dedupe stays a distributed anti-join (the set-lookup
  * re-expressed so it scales past one process's RAM).
  */
object GeoPackage {

  /** toSQLiteBoolean (GeoPackageWriter.ts:37-42): null → NULL ('' in
    * the rendered row), true → 1, false → 0.
    */
  private def b01(c: Column): Column =
    when(c.isNull, "").when(c, "1").otherwise("0")

  private val sqlB01 = (x: String) =>
    s"CASE WHEN $x IS NULL THEN '' WHEN $x THEN '1' ELSE '0' END"

  // ---- S7: the four typed layer projections -------------------------------
  private val qLayers = QuerySpec.of(
    "q_gpkg_layers", {
      val conv = OutputFormats.sqlDifficultyConvention("lon0", "lat0")
      val aconv = OutputFormats.sqlDifficultyConvention("alon", "alat")
      s"""WITH ${SkiQueries.oraclePrelude},
        |${Statistics.statsOracleCtes},
        |${SkiQueries.liftOracleCtes},
        |run_rows AS (
        |  SELECT 'runs' AS layer, ${Formatters.sql.runId} AS fid,
        |    concat_ws('|', name, status, array_to_string(uses, ','),
        |      coalesce(ref, ''), coalesce(difficulty, ''), ($conv),
        |      ${sqlB01("oneway")}, ${sqlB01("lit")}, ${sqlB01("gladed")},
        |      ${sqlB01("patrolled")}, ${sqlB01("snowmaking")},
        |      ${sqlB01("snowfarming")}, coalesce(grooming, '')) AS line
        |  FROM kept),
        |lift_rows AS (
        |  SELECT 'lifts' AS layer, ${Formatters.sql.liftId} AS fid,
        |    concat_ws('|', name, status, coalesce(lift_type, ''),
        |      coalesce(access, ''), coalesce(ref, ''), ${sqlB01("oneway")},
        |      coalesce(CAST(occupancy AS VARCHAR), ''),
        |      coalesce(CAST(capacity AS VARCHAR), ''),
        |      coalesce(CAST(duration_s AS VARCHAR), ''),
        |      ${sqlB01("detachable")}, ${sqlB01("bubble")},
        |      ${sqlB01("heating")}) AS line
        |  FROM lfmt),
        |area_rows AS (
        |  SELECT 'ski_areas_point' AS layer, a.fid,
        |    concat_ws('|', 'Area #' || CAST(a.area_id AS VARCHAR),
        |      'operating', a.act,
        |      coalesce(CAST((floor((mn) * 1e2 + 0.5) / 1e2) AS VARCHAR), ''),
        |      coalesce(CAST((floor((mx) * 1e2 + 0.5) / 1e2) AS VARCHAR), ''),
        |      ($aconv), printf('%.6f', alon), printf('%.6f', alat)) AS line
        |  FROM areas a LEFT JOIN el ON a.area_id = el.area_id),
        |${SkiQueries.spotOracleCtes},
        |spot_rows AS (
        |  SELECT 'spots' AS layer, id AS fid,
        |    concat_ws('|', spot_type, coalesce(dismount, ''),
        |      coalesce(name, ''), coalesce(position, ''),
        |      ${sqlB01("entry")}, ${sqlB01("exit")}) AS line
        |  FROM sfmt)
        |SELECT layer, fid, line FROM (
        |  SELECT * FROM run_rows UNION ALL SELECT * FROM lift_rows
        |  UNION ALL SELECT * FROM area_rows UNION ALL SELECT * FROM spot_rows)
        |ORDER BY layer, fid, line""".stripMargin
    }) { (s, d) =>
    layerRows(s, d).orderBy("layer", "fid", "line")
  }

  /** (layer, fid, line) rows for all four typed layers. */
  private def layerRows(s: SparkSession, d: String): DataFrame = {
    import OutputFormats.difficultyConvention
    def pt(j: Int) = element_at(element_at(col("coords"), 1), j)
    val runRows = SkiQueries.formatted(s, d).filter(col("kept"))
      .select(lit("runs").as("layer"), col("id").as("fid"),
        concat_ws("|", col("name"), col("status"),
          concat_ws(",", col("uses")), coalesce(col("ref"), lit("")),
          coalesce(col("difficulty"), lit("")),
          difficultyConvention(pt(1), pt(2)),
          b01(col("oneway")), b01(col("lit")), b01(col("gladed")),
          b01(col("patrolled")), b01(col("snowmaking")),
          b01(col("snowfarming")),
          coalesce(col("grooming"), lit(""))).as("line"))
    val liftRows = SkiQueries.formattedLifts(s, d)
      .select(lit("lifts").as("layer"), col("id").as("fid"),
        concat_ws("|", col("name"), col("status"),
          coalesce(col("lift_type"), lit("")),
          coalesce(col("access"), lit("")), coalesce(col("ref"), lit("")),
          b01(col("oneway")),
          coalesce(col("occupancy").cast("string"), lit("")),
          coalesce(col("capacity").cast("string"), lit("")),
          coalesce(col("duration_s").cast("string"), lit("")),
          b01(col("detachable")), b01(col("bubble")),
          b01(col("heating"))).as("line"))
    val af = Statistics.areaFrames(s, d)
    val areaRows = af.areas.join(af.elevation, Seq("area_id"), "left")
      .select(lit("ski_areas_point").as("layer"), col("fid"),
        concat_ws("|", concat(lit("Area #"), col("area_id")),
          lit("operating"), col("act"),
          coalesce((floor((col("mn")) * 1e2 + 0.5) / 1e2).cast("string"), lit("")),
          coalesce((floor((col("mx")) * 1e2 + 0.5) / 1e2).cast("string"), lit("")),
          difficultyConvention(col("alon"), col("alat")),
          format_string("%.6f", col("alon")),
          format_string("%.6f", col("alat"))).as("line"))
    val spotRows = SkiQueries.formattedSpots(s, d)
      .select(lit("spots").as("layer"), col("id").as("fid"),
        concat_ws("|", col("spot_type"), coalesce(col("dismount"), lit("")),
          coalesce(col("name"), lit("")), coalesce(col("position"), lit("")),
          b01(col("entry")), b01(col("exit"))).as("line"))
    runRows.unionByName(liftRows).unionByName(areaRows).unionByName(spotRows)
  }

  /** S11 output merger (`/root/reference/src/io/GeoPackageWriter.ts`
    * merge path): keep every `target` row, insert only `source` rows
    * whose feature id is absent in that layer — the reference's
    * existing-id set + INSERT OR IGNORE, re-expressed as a LEFT ANTI
    * join so the id set never has to fit in one process. Inputs carry
    * (layer, fid) plus passthrough columns; first-wins on fid within
    * a layer.
    */
  def mergeOutputs(target: DataFrame, source: DataFrame): DataFrame =
    target.unionByName(
      source.join(target.select("layer", "fid"),
        Seq("layer", "fid"), "left_anti"))

  /** N-directory output merge
    * (`/root/reference/src/scripts/merge_outputs.ts:93-445`,
    * `src/io/GeoPackageMerger.ts:33-283`): input `rows` carries one
    * row per (dir_idx, kind, file, row_seq, fid, ...) where dirs are
    * processed in dir_idx order. Reference semantics, distributed:
    *
    *  - CSV / GeoJSON files CONCAT every directory's rows (the
    *    header/wrapper is emitted once; rows are never deduped);
    *  - GeoPackage tables take the FIRST directory that has the file
    *    as the base (copied wholesale, internal duplicates included —
    *    `copyTableFromSource` does plain INSERTs), and each later
    *    directory inserts only rows whose `fid` has not been seen yet
    *    (`mergeDataIntoExistingTable`'s feature_id set; within one
    *    source, ROWID order decides which duplicate lands first);
    *  - rows with NULL fid are always inserted (the reference only
    *    consults the set for non-null feature_ids).
    *
    * Shape for 100 TB: the base-dir lookup is a tiny per-file
    * aggregate broadcast back; the first-wins choice is a window over
    * (file, fid) — high-cardinality keys, so no skew — and null-fid
    * rows bypass the window entirely instead of piling into one
    * partition.
    */
  def mergeOutputsMulti(rows: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = rows.groupBy("file").agg(min("dir_idx").as("base_dir"))
    val wRk = Window.partitionBy("file", "fid")
      .orderBy("dir_idx", "row_seq")
    val withFid = rows.filter(col("fid").isNotNull)
      .withColumn("rk", row_number().over(wRk))
    val nullFid = rows.filter(col("fid").isNull)
      .withColumn("rk", lit(1))
    withFid.unionByName(nullFid)
      .join(broadcast(base), Seq("file"))
      .filter(col("kind") =!= "gpkg" || col("fid").isNull ||
        col("dir_idx") === col("base_dir") || col("rk") === 1)
      .drop("rk")
  }

  /** GeoPackage metadata bookkeeping
    * (`GeoPackageMerger.ts:289-347`): every source that carries a
    * table upserts its `gpkg_contents` / `gpkg_geometry_columns` rows
    * with INSERT OR REPLACE, so the LAST directory's entry (bbox,
    * srs) wins outright — replaced, not unioned.
    */
  def mergeGpkgMetadata(meta: DataFrame): DataFrame =
    meta.groupBy("file").agg(
      max("dir_idx").as("meta_dir"),
      max_by(struct(col("srs_id"), col("min_x"), col("min_y"),
        col("max_x"), col("max_y")), col("dir_idx")).as("m"))
      .select(col("file"), col("meta_dir"), col("m.srs_id"),
        col("m.min_x"), col("m.min_y"), col("m.max_x"), col("m.max_y"))

  // ---- S11: output merger query ------------------------------------------
  // Two overlapping regional extracts per layer (even ids + every 7th
  // vs odd ids + every 7th) run through [[mergeOutputs]]. The merged
  // id checksum (order-independent sum of row hashes) verifies the
  // surviving row SET, not just the counts.
  private val qMerge = QuerySpec.of(
    "q_merge_outputs", {
      val h = HashFunctions.sqlHash64("fid")
      s"""WITH ${SkiQueries.oraclePrelude},
        |${SkiQueries.liftOracleCtes},
        |run_rows AS (
        |  SELECT 'runs' AS layer, way_id AS k, ${Formatters.sql.runId} AS fid
        |  FROM kept),
        |lift_rows AS (
        |  SELECT 'lifts' AS layer, lift_id AS k, ${Formatters.sql.liftId} AS fid
        |  FROM lfmt),
        |rows_all AS (
        |  SELECT * FROM run_rows UNION ALL SELECT * FROM lift_rows),
        |target AS (SELECT * FROM rows_all WHERE k % 2 = 0 OR k % 7 = 0),
        |source AS (SELECT * FROM rows_all WHERE k % 2 = 1 OR k % 7 = 0),
        |inserted AS (
        |  SELECT s.layer, s.fid FROM source s
        |  WHERE NOT EXISTS (
        |    SELECT 1 FROM target t
        |    WHERE t.layer = s.layer AND t.fid = s.fid)),
        |merged AS (
        |  SELECT layer, fid FROM target
        |  UNION ALL SELECT layer, fid FROM inserted)
        |SELECT m.layer,
        |  (SELECT count(*) FROM target t WHERE t.layer = m.layer) AS n_target,
        |  (SELECT count(*) FROM source s WHERE s.layer = m.layer) AS n_source,
        |  (SELECT count(*) FROM inserted i WHERE i.layer = m.layer)
        |    AS n_inserted,
        |  count(*) AS n_merged,
        |  CAST(sum($h % 1000000000000) AS BIGINT) AS id_checksum
        |FROM merged m GROUP BY m.layer ORDER BY m.layer""".stripMargin
    }) { (s, d) =>
    val runRows = SkiQueries.formatted(s, d).filter(col("kept"))
      .select(lit("runs").as("layer"), col("way_id").as("k"),
        col("id").as("fid"))
    val liftRows = SkiQueries.formattedLifts(s, d)
      .select(lit("lifts").as("layer"), col("lift_id").as("k"),
        col("id").as("fid"))
    val all = runRows.unionByName(liftRows)
    val isShared = pmod(col("k"), lit(7)) === 0
    val target = all.filter(pmod(col("k"), lit(2)) === 0 || isShared)
      .select("layer", "fid")
    val source = all.filter(pmod(col("k"), lit(2)) =!= 0 || isShared)
      .select("layer", "fid")
    val inserted = source.join(target, Seq("layer", "fid"), "left_anti")
    val merged = mergeOutputs(target, source).localCheckpoint()
    def cnt(df: DataFrame, name: String) =
      df.groupBy("layer").agg(count(lit(1)).as(name))
    merged.groupBy("layer")
      .agg(count(lit(1)).as("n_merged"),
        sum(pmod(HashFunctions.hash64(col("fid")), lit(1000000000000L)))
          .as("id_checksum"))
      .join(cnt(target, "n_target"), Seq("layer"), "left")
      .join(cnt(source, "n_source"), Seq("layer"), "left")
      .join(cnt(inserted, "n_inserted"), Seq("layer"), "left")
      .select(col("layer"),
        coalesce(col("n_target"), lit(0L)).as("n_target"),
        coalesce(col("n_source"), lit(0L)).as("n_source"),
        coalesce(col("n_inserted"), lit(0L)).as("n_inserted"),
        col("n_merged"), col("id_checksum"))
      .orderBy("layer")
  }

  // ---- S11 depth: multi-directory merge ----------------------------------
  // Three overlapping per-region extract directories (conflicting ids
  // across every pair), a CSV that must concat with one header, a
  // GeoPackage table absent from dir 0 (base becomes dir 1 — the
  // copy-table-from-source path), a table only dir 2 carries, NULL
  // feature_ids that always insert, and per-dir gpkg_contents rows
  // whose last writer wins. ~58k fixture rows at sf0.01.
  private val qMergeMulti = QuerySpec.of(
    "q_merge_multi", {
      val h = HashFunctions.sqlHash64("fid")
      s"""WITH ${SkiQueries.oraclePrelude},
        |${SkiQueries.liftOracleCtes},
        |runsrc AS (
        |  SELECT way_id AS k,
        |    CASE WHEN way_id % 97 = 0 THEN NULL
        |      ELSE ${Formatters.sql.runId} END AS fid,
        |    lon0 AS lon, lat0 AS lat
        |  FROM kept),
        |liftsrc AS (
        |  SELECT lift_id AS k, ${Formatters.sql.liftId} AS fid,
        |    ${SkiFeatures.sql.anchorLon("lift_id")}
        |      AS lon,
        |    ${SkiFeatures.sql.anchorLat("lift_id")}
        |      AS lat
        |  FROM lfmt),
        |allrows AS (
        |  SELECT 0 AS dir_idx, 'gpkg' AS kind, 'gpkg:runs' AS file,
        |    k AS row_seq, fid, lon, lat
        |  FROM runsrc WHERE k % 3 = 0 OR k % 5 = 0
        |  UNION ALL SELECT 1, 'gpkg', 'gpkg:runs', k, fid, lon, lat
        |  FROM runsrc WHERE k % 3 = 1 OR k % 5 = 0
        |  UNION ALL SELECT 2, 'gpkg', 'gpkg:runs', k, fid, lon, lat
        |  FROM runsrc WHERE k % 3 = 2 OR k % 5 = 0
        |  UNION ALL SELECT 0, 'csv', 'csv:runs.csv', k, fid, lon, lat
        |  FROM runsrc WHERE k % 3 = 0 OR k % 5 = 0
        |  UNION ALL SELECT 1, 'csv', 'csv:runs.csv', k, fid, lon, lat
        |  FROM runsrc WHERE k % 3 = 1 OR k % 5 = 0
        |  UNION ALL SELECT 2, 'csv', 'csv:runs.csv', k, fid, lon, lat
        |  FROM runsrc WHERE k % 3 = 2 OR k % 5 = 0
        |  UNION ALL SELECT 2, 'gpkg', 'gpkg:extra', k, fid, lon, lat
        |  FROM runsrc WHERE k % 13 = 0
        |  UNION ALL SELECT 1, 'gpkg', 'gpkg:lifts', k, fid, lon, lat
        |  FROM liftsrc WHERE k % 2 = 1 OR k % 11 = 0
        |  UNION ALL SELECT 2, 'gpkg', 'gpkg:lifts', k, fid, lon, lat
        |  FROM liftsrc WHERE k % 2 = 0 OR k % 11 = 0),
        |based AS (
        |  SELECT *, min(dir_idx) OVER (PARTITION BY file) AS base_dir
        |  FROM allrows),
        |ranked AS (
        |  SELECT *, CASE WHEN fid IS NULL THEN 1 ELSE
        |    row_number() OVER (PARTITION BY file, fid
        |      ORDER BY dir_idx, row_seq) END AS rk
        |  FROM based),
        |keptm AS (
        |  SELECT * FROM ranked
        |  WHERE kind <> 'gpkg' OR fid IS NULL OR dir_idx = base_dir
        |    OR rk = 1),
        |totals AS (SELECT file, count(*) AS n_total FROM allrows
        |  GROUP BY file),
        |stats AS (
        |  SELECT file, count(*) AS n_merged,
        |    CAST(sum(CASE WHEN dir_idx = base_dir THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_base,
        |    CAST(sum(CASE WHEN dir_idx <> base_dir THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_inserted,
        |    CAST(sum(CASE WHEN fid IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_null_fid,
        |    CAST(sum(CASE WHEN fid IS NOT NULL
        |      THEN $h % 1000000000000 ELSE 0 END) AS BIGINT)
        |      AS id_checksum
        |  FROM keptm GROUP BY file),
        |meta0 AS (
        |  SELECT file, dir_idx, 4326 + dir_idx AS srs_id,
        |    min(lon) AS min_x, min(lat) AS min_y,
        |    max(lon) AS max_x, max(lat) AS max_y
        |  FROM allrows WHERE kind = 'gpkg' GROUP BY file, dir_idx),
        |metaf AS (
        |  SELECT file, dir_idx AS meta_dir, srs_id,
        |    min_x, min_y, max_x, max_y
        |  FROM meta0 QUALIFY row_number() OVER (PARTITION BY file
        |    ORDER BY dir_idx DESC) = 1)
        |SELECT s.file, t.n_total, s.n_merged, s.n_base, s.n_inserted,
        |  s.n_null_fid, t.n_total - s.n_merged AS n_skipped,
        |  s.id_checksum, m.meta_dir, m.srs_id,
        |  (floor((m.min_x) * 1e6 + 0.5) / 1e6) AS bbox_w, (floor((m.min_y) * 1e6 + 0.5) / 1e6) AS bbox_s,
        |  (floor((m.max_x) * 1e6 + 0.5) / 1e6) AS bbox_e, (floor((m.max_y) * 1e6 + 0.5) / 1e6) AS bbox_n
        |FROM stats s JOIN totals t USING (file)
        |LEFT JOIN metaf m USING (file)
        |ORDER BY s.file""".stripMargin
    }) { (s, d) =>
    def p1(j: Int) = element_at(element_at(col("coords"), 1), j)
    val runs = SkiQueries.formatted(s, d).filter(col("kept"))
      .select(col("way_id").cast("long").as("k"),
        when(pmod(col("way_id"), lit(97)) === 0, lit(null).cast("string"))
          .otherwise(col("id")).as("fid"),
        p1(1).as("lon"), p1(2).as("lat"))
    val lifts = SkiQueries.formattedLifts(s, d)
      .select(col("lift_id").cast("long").as("k"), col("id").as("fid"),
        SkiFeatures.anchorLon(col("lift_id")).as("lon"),
        SkiFeatures.anchorLat(col("lift_id")).as("lat"))
    def part(df: DataFrame, dir: Int, kind: String, file: String,
        cond: Column) =
      df.filter(cond).select(lit(dir).as("dir_idx"), lit(kind).as("kind"),
        lit(file).as("file"), col("k").as("row_seq"), col("fid"),
        col("lon"), col("lat"))
    val m3 = pmod(col("k"), lit(3))
    val m5 = pmod(col("k"), lit(5))
    val rows = Seq(
      part(runs, 0, "gpkg", "gpkg:runs", m3 === 0 || m5 === 0),
      part(runs, 1, "gpkg", "gpkg:runs", m3 === 1 || m5 === 0),
      part(runs, 2, "gpkg", "gpkg:runs", m3 === 2 || m5 === 0),
      part(runs, 0, "csv", "csv:runs.csv", m3 === 0 || m5 === 0),
      part(runs, 1, "csv", "csv:runs.csv", m3 === 1 || m5 === 0),
      part(runs, 2, "csv", "csv:runs.csv", m3 === 2 || m5 === 0),
      part(runs, 2, "gpkg", "gpkg:extra", pmod(col("k"), lit(13)) === 0),
      part(lifts, 1, "gpkg", "gpkg:lifts",
        pmod(col("k"), lit(2)) === 1 || pmod(col("k"), lit(11)) === 0),
      part(lifts, 2, "gpkg", "gpkg:lifts",
        pmod(col("k"), lit(2)) === 0 || pmod(col("k"), lit(11)) === 0))
      .reduce(_.unionByName(_))
      .localCheckpoint() // read by merge + totals + metadata
    val kept = mergeOutputsMulti(rows)
    val meta = mergeGpkgMetadata(
      rows.filter(col("kind") === "gpkg").groupBy("file", "dir_idx")
        .agg(min("lon").as("min_x"), min("lat").as("min_y"),
          max("lon").as("max_x"), max("lat").as("max_y"))
        .withColumn("srs_id", lit(4326) + col("dir_idx")))
    val totals = rows.groupBy("file").agg(count(lit(1)).as("n_total"))
    val stats = kept.groupBy("file").agg(
      count(lit(1)).as("n_merged"),
      sum(when(col("dir_idx") === col("base_dir"), 1L).otherwise(0L))
        .as("n_base"),
      sum(when(col("dir_idx") =!= col("base_dir"), 1L).otherwise(0L))
        .as("n_inserted"),
      sum(when(col("fid").isNull, 1L).otherwise(0L)).as("n_null_fid"),
      sum(when(col("fid").isNotNull,
        pmod(HashFunctions.hash64(col("fid")), lit(1000000000000L)))
        .otherwise(0L)).as("id_checksum"))
    stats.join(totals, "file")
      .withColumn("n_skipped", col("n_total") - col("n_merged"))
      .join(meta, Seq("file"), "left")
      .select(col("file"), col("n_total"), col("n_merged"), col("n_base"),
        col("n_inserted"), col("n_null_fid"), col("n_skipped"),
        col("id_checksum"), col("meta_dir"), col("srs_id"),
        (floor((col("min_x")) * 1e6 + 0.5) / 1e6).as("bbox_w"),
        (floor((col("min_y")) * 1e6 + 0.5) / 1e6).as("bbox_s"),
        (floor((col("max_x")) * 1e6 + 0.5) / 1e6).as("bbox_e"),
        (floor((col("max_y")) * 1e6 + 0.5) / 1e6).as("bbox_n"))
      .orderBy("file")
  }

  // ---- S7 depth: GeoPackage geometry BLOBs --------------------------------
  // The binary geometry column itself (GP header + envelope + WKB,
  // encoded by GpkgGeomExpr) over six layers: runs/lifts LineStrings,
  // spots Points, ski-area hexagon Polygons, the reference's ski-area
  // `_point` centroid layer (GeoPackageWriter.ts:536-556), and the
  // MultiPart 2-part MultiPolygon fixture. Every output column except
  // (layer, fid) is derived from the ENCODER's own result row —
  // n_points and the envelope doubles are the values written into the
  // header bytes and blob_len measures the real blob — while the
  // oracle recomputes them relationally (count/min/max + the wire-size
  // arithmetic per WKB type), so a byte-layout regression flips the
  // hash. GpkgSpec parses the blobs back byte-by-byte.
  /** The WITH-chain ending in `unioned` (layer, fid, wkb_type,
    * n_points, blob_len, env…) — shared by the blob oracle and the
    * sqlite-container rollup oracle.
    */
  private lazy val oracleBlobChain: String = {
      def vertRows(shape: Seq[(Int, Int)], part: Int): String =
        shape.map { case (vx, vy) =>
          s"{'part': $part, 'vx': CAST($vx AS DOUBLE), 'vy': CAST($vy AS DOUBLE)}"
        }.mkString(",\n        |        ")
      val u = MultiPart.U
      s"""WITH ${SkiQueries.oraclePrelude},
        |${MvtTiles.oracleFeatPtsCtes},
        |gfeat AS (
        |  SELECT layer, fid, gtype, CAST(count(*) AS BIGINT) AS n_points,
        |    min(lon) AS env_minx, max(lon) AS env_maxx,
        |    min(lat) AS env_miny, max(lat) AS env_maxy
        |  FROM feat_pts GROUP BY 1, 2, 3),
        |gsingle AS (
        |  SELECT layer, fid, gtype AS wkb_type, n_points,
        |    CAST(40 + CASE gtype WHEN 1 THEN 21
        |      WHEN 2 THEN 9 + 16 * n_points
        |      WHEN 3 THEN 13 + 16 * (n_points + 1) END AS BIGINT)
        |      AS blob_len,
        |    env_minx, env_maxx, env_miny, env_maxy
        |  FROM gfeat),
        |apoints AS (
        |  SELECT 'skiareas_point' AS layer, o_orderkey AS fid,
        |    1 AS wkb_type, CAST(1 AS BIGINT) AS n_points,
        |    CAST(61 AS BIGINT) AS blob_len,
        |    ${SkiFeatures.sql.anchorLon("o_orderkey")}
        |      AS ax,
        |    ${SkiFeatures.sql.anchorLat("o_orderkey")}
        |      AS ay
        |  FROM orders WHERE ${SkiFeatures.sql.isArea("o_orderkey")}),
        |mverts AS (
        |  SELECT o_orderkey AS fid, (p).part AS part,
        |    ${SkiFeatures.sql.anchorLon("o_orderkey")}
        |      + (p).vx * $u AS x,
        |    ${SkiFeatures.sql.anchorLat("o_orderkey")}
        |      + (p).vy * $u AS y
        |  FROM orders, unnest(CASE WHEN o_orderkey % 2 = 0
        |    THEN [${vertRows(MultiPart.RectXY, 0)},
        |        ${vertRows(MultiPart.Rect2XY, 1)}]
        |    ELSE [${vertRows(MultiPart.CXY, 0)},
        |        ${vertRows(MultiPart.Rect2XY, 1)}]
        |    END) AS u(p)
        |  WHERE ${SkiFeatures.sql.isArea("o_orderkey")}),
        |mpartn AS (
        |  SELECT fid, part, count(*) AS n FROM mverts GROUP BY 1, 2),
        |mrows AS (
        |  SELECT v.fid, CAST(count(*) AS BIGINT) AS n_points,
        |    min(v.x) AS env_minx, max(v.x) AS env_maxx,
        |    min(v.y) AS env_miny, max(v.y) AS env_maxy
        |  FROM mverts v GROUP BY 1),
        |msize AS (
        |  SELECT fid, CAST(49 + sum(13 + 16 * (n + 1)) AS BIGINT)
        |    AS blob_len
        |  FROM mpartn GROUP BY 1),
        |unioned AS (
        |  SELECT * FROM gsingle
        |  UNION ALL
        |  SELECT layer, fid, wkb_type, n_points, blob_len,
        |    ax, ax, ay, ay FROM apoints
        |  UNION ALL
        |  SELECT 'skiareas_multi', r.fid, 6, r.n_points, s.blob_len,
        |    r.env_minx, r.env_maxx, r.env_miny, r.env_maxy
        |  FROM mrows r JOIN msize s ON r.fid = s.fid)""".stripMargin
  }

  private val qBlobs = QuerySpec.of(
    "q_gpkg_blobs", {
      s"""$oracleBlobChain
        |SELECT layer, fid, wkb_type, n_points, blob_len,
        |  env_minx, env_maxx, env_miny, env_maxy
        |FROM unioned ORDER BY layer, fid""".stripMargin
    }) { (s, d) =>
    gpkgGeoms(s, d)
      .select(col("layer"), col("fid"), col("wkb_type"),
        col("g")("n_points").cast("long").as("n_points"),
        length(col("g")("blob")).cast("long").as("blob_len"),
        col("g")("minx").as("env_minx"), col("g")("maxx").as("env_maxx"),
        col("g")("miny").as("env_miny"), col("g")("maxy").as("env_maxy"))
      .orderBy("layer", "fid")
  }

  /** (layer, fid, wkb_type, g struct<blob, n_points, env…>) — the
    * encoded geometry surface; also the spec's parse input.
    */
  private[graft] def gpkgGeoms(s: SparkSession, d: String): DataFrame = {
    val single = MvtTiles.features(s, d)
      .select(col("layer"), col("fid"), col("gtype").as("wkb_type"),
        array(array(col("pts"))).as("parts"))
    val apoints = SkiFeatures.areas(s, d)
      .select(lit("skiareas_point").as("layer"),
        col("area_id").as("fid"), lit(1).as("wkb_type"),
        array(array(array(struct(col("lon"), col("lat"))))).as("parts"))
    val multi = MultiPart.multiAreas(s, d)
      .select(lit("skiareas_multi").as("layer"),
        col("area_id").as("fid"), lit(6).as("wkb_type"),
        transform(col("parts"), ring => array(transform(ring, xy =>
          struct(element_at(xy, 1).as("lon"), element_at(xy, 2).as("lat")))))
          .as("parts"))
    single.unionByName(apoints).unionByName(multi)
      .withColumn("g",
        graft.functions.GpkgGeomExpr.gpkgGeom(col("wkb_type"), col("parts")))
      .drop("parts")
  }

  // ---- the .gpkg FILE itself (from-scratch SQLite container) -------------
  // The geometry BLOBs and layer rows existed in-engine since r12; the
  // SQLite envelope was the one remaining driver post-step (no sqlite
  // library resolves offline). SqliteFile closes it: the engine now
  // writes a complete, valid GeoPackage database — gpkg_spatial_ref_sys
  // / gpkg_contents / gpkg_geometry_columns plus one feature table per
  // layer (fid INTEGER, geom BLOB) — that Python's stdlib sqlite3
  // opens, integrity-checks and queries (GpkgSqliteSpec). Cell
  // encoding is distributable; the page assembly is the driver-side
  // single-file sink every single-artifact output has.
  private val GpkgLastChange = "2026-01-01T00:00:00.000Z"

  private def typeName(wkb: Int): String = wkb match {
    case 1 => "POINT"
    case 2 => "LINESTRING"
    case 3 => "POLYGON"
    case 6 => "MULTIPOLYGON"
    case other => s"GEOMETRY"
  }

  /** Write the full GeoPackage file; returns (table, rootpage, rows).
    *
    * Streaming shape: the only driver-materialized rows are the
    * per-layer extent/type aggregate (one row per layer); feature rows
    * and index rows flow through sorted `toLocalIterator`s off a
    * checkpointed geometry frame straight into the page writer —
    * the driver never holds a layer's features
    * (pattern: sources/GeoJson.scala's FeatureCollection sink).
    *
    * Also emits the NGA geometry-index extension the reference's
    * `indexFeatureTable` creates per feature table
    * (`/root/reference/src/io/GeoPackageWriter.ts:589-600,827-828`):
    * `gpkg_extensions` rows plus `nga_table_index` /
    * `nga_geometry_index` — as plain tables keyed by (table_name,
    * geom_id) with 2D envelope columns (this writer builds no index
    * b-trees; readers scan, which is how the stdlib-sqlite3 spec and
    * the from-scratch reader consume them anyway).
    */
  def writeGpkgFile(s: SparkSession, d: String,
      path: java.nio.file.Path): Seq[(String, Int, Long)] = {
    import graft.sources.SqliteFile
    val geoms = gpkgGeoms(s, d)
      .select(col("layer"), col("fid"), col("wkb_type"),
        col("g")("blob").as("blob"),
        col("g")("minx").as("minx"), col("g")("maxx").as("maxx"),
        col("g")("miny").as("miny"), col("g")("maxy").as("maxy"))
      // one materialization serves the extent aggregate + one sorted
      // stream per table below (each is its own job over the blocks)
      .localCheckpoint(false)
    val layerMeta = geoms.groupBy("layer")
      .agg(min("minx").as("minx"), min("miny").as("miny"),
        max("maxx").as("maxx"), max("maxy").as("maxy"),
        min("wkb_type").as("wkb_type"),
        max("wkb_type").as("wkb_type_max"))
      .orderBy("layer")
      .collect()
    val layers = layerMeta.map(_.getString(0)).toSeq
    val srs = SqliteFile.Table(
      "gpkg_spatial_ref_sys",
      "CREATE TABLE gpkg_spatial_ref_sys (srs_name TEXT NOT NULL, " +
        "srs_id INTEGER NOT NULL, organization TEXT NOT NULL, " +
        "organization_coordsys_id INTEGER NOT NULL, " +
        "definition TEXT NOT NULL, description TEXT)",
      Iterator(
        Seq("WGS 84 geodetic", 4326L, "EPSG", 4326L,
          "GEOGCS[\"WGS 84\",DATUM[\"WGS_1984\"]]", "longitude/latitude"),
        Seq("undefined cartesian SRS", -1L, "NONE", -1L, "undefined", null),
        Seq("undefined geographic SRS", 0L, "NONE", 0L, "undefined", null)))
    val contents = SqliteFile.Table(
      "gpkg_contents",
      "CREATE TABLE gpkg_contents (table_name TEXT NOT NULL, " +
        "data_type TEXT NOT NULL, identifier TEXT, " +
        "description TEXT DEFAULT '', last_change TEXT NOT NULL, " +
        "min_x DOUBLE, min_y DOUBLE, max_x DOUBLE, max_y DOUBLE, " +
        "srs_id INTEGER)",
      layerMeta.iterator.map { m =>
        Seq(m.getString(0), "features", m.getString(0), "", GpkgLastChange,
          m.getDouble(1), m.getDouble(2), m.getDouble(3), m.getDouble(4),
          4326L)
      })
    val geomCols = SqliteFile.Table(
      "gpkg_geometry_columns",
      "CREATE TABLE gpkg_geometry_columns (table_name TEXT NOT NULL, " +
        "column_name TEXT NOT NULL, geometry_type_name TEXT NOT NULL, " +
        "srs_id INTEGER NOT NULL, z TINYINT NOT NULL, m TINYINT NOT NULL)",
      layerMeta.iterator.map { m =>
        // a layer with mixed geometry types declares the spec's
        // generic GEOMETRY type instead of silently picking one of
        // its members (gpkg spec v1.3 table 30 allows the generic
        // name exactly for this case)
        val tn = if (m.getInt(5) == m.getInt(6)) typeName(m.getInt(5))
          else "GEOMETRY"
        Seq(m.getString(0), "geom", tn, 4326L, 0L, 0L)
      })
    val extensions = SqliteFile.Table(
      "gpkg_extensions",
      "CREATE TABLE gpkg_extensions (table_name TEXT, " +
        "column_name TEXT, extension_name TEXT NOT NULL, " +
        "definition TEXT NOT NULL, scope TEXT NOT NULL)",
      layers.iterator.map(l => Seq(l, "geom", "nga_geometry_index",
        "http://ngageoint.github.io/GeoPackage/docs/extensions/" +
          "geometry-index.html", "read-write")))
    val tableIndex = SqliteFile.Table(
      "nga_table_index",
      "CREATE TABLE nga_table_index (table_name TEXT NOT NULL, " +
        "last_indexed DATETIME)",
      layers.iterator.map(l => Seq(l, GpkgLastChange)))
    def sortedRows(cols: String*): Iterator[org.apache.spark.sql.Row] = {
      val it = geoms.orderBy("layer", "fid")
        .select(cols.head, cols.tail: _*).toLocalIterator()
      new Iterator[org.apache.spark.sql.Row] {
        override def hasNext: Boolean = it.hasNext
        override def next(): org.apache.spark.sql.Row = it.next()
      }
    }
    val geomIndex = SqliteFile.Table(
      "nga_geometry_index",
      "CREATE TABLE nga_geometry_index (table_name TEXT NOT NULL, " +
        "geom_id INTEGER NOT NULL, min_x DOUBLE NOT NULL, " +
        "max_x DOUBLE NOT NULL, min_y DOUBLE NOT NULL, " +
        "max_y DOUBLE NOT NULL)",
      sortedRows("layer", "fid", "minx", "maxx", "miny", "maxy").map(r =>
        Seq(r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
          r.getDouble(4), r.getDouble(5))))
    val featureTables = layers.map { layer =>
      SqliteFile.Table(layer,
        s"CREATE TABLE $layer (fid INTEGER, geom BLOB)",
        {
          val it = geoms.filter(col("layer") === layer).orderBy("fid")
            .select("fid", "blob").toLocalIterator()
          new Iterator[Seq[Any]] {
            override def hasNext: Boolean = it.hasNext
            override def next(): Seq[Any] = {
              val r = it.next()
              Seq(r.getLong(0), r.getAs[Array[Byte]](1))
            }
          }
        })
    }
    SqliteFile.write(path,
      Seq(srs, contents, geomCols, extensions, tableIndex, geomIndex) ++
        featureTables,
      applicationId = 0x47504B47, userVersion = 10300)
  }

  // Driver gate: the per-table rollup of what went INTO the container
  // (row counts, sequential-rowid sums, geometry wire bytes), which
  // the oracle recomputes relationally from the same wire-size
  // arithmetic as q_gpkg_blobs — PLUS the NGA geometry-index layout
  // read back from the container (per-table index row count and an
  // integer envelope checksum over the parsed doubles), so the index
  // tables' byte encoding sits under the DuckDB hash too. The
  // container's VALIDITY is proved by the independent reader in
  // GpkgSqliteSpec (a real SQLite build).
  private val qSqlite = QuerySpec.of(
    "q_gpkg_sqlite", {
      s"""$oracleBlobChain
        |SELECT layer AS table_name,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(*) * (count(*) + 1) / 2 AS BIGINT) AS rowid_sum,
        |  CAST(sum(blob_len) AS BIGINT) AS geom_bytes,
        |  CAST(count(*) AS BIGINT) AS idx_rows,
        |  CAST(sum(CAST(floor(env_minx * 1000000) AS BIGINT)
        |    + CAST(floor(env_maxx * 1000000) AS BIGINT)
        |    + CAST(floor(env_miny * 1000000) AS BIGINT)
        |    + CAST(floor(env_maxy * 1000000) AS BIGINT)) AS BIGINT)
        |    AS idx_env_chk
        |FROM unioned GROUP BY layer ORDER BY table_name""".stripMargin
    }) { (s, d) =>
    val dir = graft.TempDirs.scoped("graft_gpkg_db_")
    val path = dir.resolve("out.gpkg")
    val written = writeGpkgFile(s, d, path)
    // read the CONTAINER BYTES back with the from-scratch reader and
    // roll up from the parsed cells — the driver hash gate then covers
    // the page/record encoding itself, not just the input rows
    val db = graft.sources.SqliteReader.open(path)
    // NGA index rollup: every envelope double parsed back from the
    // container's record cells (floor(v·1e6) is bit-deterministic —
    // the same doubles the oracle computes relationally)
    val idx = scala.collection.mutable.Map[String, (Long, Long)]()
    db.table("nga_geometry_index").foreach { case (_, vs) =>
      val t = vs(0).asInstanceOf[String]
      val chk = (2 to 5).map(i =>
        math.floor(vs(i).asInstanceOf[Double] * 1000000).toLong).sum
      val (n, c) = idx.getOrElse(t, (0L, 0L))
      idx(t) = (n + 1, c + chk)
    }
    val rows = written.map(_._1)
      .filterNot(t => t.startsWith("gpkg_") || t.startsWith("nga_"))
      .sorted.map { t =>
        var n = 0L; var rsum = 0L; var gbytes = 0L
        db.table(t).foreach { case (rowid, vs) =>
          n += 1; rsum += rowid
          gbytes += vs(1).asInstanceOf[Array[Byte]].length
        }
        val (in, ichk) = idx.getOrElse(t, (0L, 0L))
        (t, n, rsum, gbytes, in, ichk)
      }
    import s.implicits._
    rows.toDF("table_name", "n_rows", "rowid_sum", "geom_bytes",
      "idx_rows", "idx_env_chk")
      .orderBy("table_name")
  }

  val specs: Seq[QuerySpec] = Seq(qLayers, qMerge, qMergeMulti, qBlobs,
    qSqlite)
}
