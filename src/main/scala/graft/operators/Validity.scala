package graft.operators

import graft.QuerySpec
import graft.functions.GeoFunctions._
import org.apache.spark.sql.functions._

/** Geometry validity + repair (SURVEY P12/J6,
  * `/root/reference/src/transforms/GeoTransforms.ts:113-130` turf
  * booleanValid filtering; `PostgreSQLClusteringDatabase.ts:50,291`
  * ST_MakeValid(ST_Force2D(...)) at clustering ingest).
  *
  * The query synthesizes one feature per order with a deliberate
  * validity class — (0) unclosed ring, repairable by closing; (1)
  * closed valid ring; (2) too-short ring, unrepairable; (3) closed
  * ring with out-of-range longitudes, unrepairable; (4) valid 3D
  * LineString — then runs the force-2D → validate → close-ring-repair
  * → revalidate pipeline and reports per-class counts. `max_arity`
  * proves the 2D projection actually dropped z.
  */
object Validity {

  private val qValid = QuerySpec.of(
    "q_ski_geometry_valid",
    s"""WITH o AS (
      |  SELECT o_orderkey AS fid, o_orderkey % 5 AS cls,
      |    ${SkiFeatures.sql.anchorLon("o_orderkey")} AS alon,
      |    ${SkiFeatures.sql.anchorLat("o_orderkey")} AS alat,
      |    CAST(o_orderkey % 3 + 1 AS DOUBLE) * 0.001 AS r,
      |    CAST(o_orderkey % 100 AS DOUBLE) AS z
      |  FROM orders),
      |g AS (
      |  SELECT fid, cls,
      |    CASE WHEN cls = 4 THEN 'LineString' ELSE 'Polygon' END AS geom_type,
      |    CASE cls
      |      WHEN 0 THEN [[alon, alat, z], [alon + r, alat, z + 1],
      |        [alon + r, alat + r, z + 2], [alon, alat + r, z + 3]]
      |      WHEN 1 THEN [[alon, alat, z], [alon + r, alat, z + 1],
      |        [alon + r, alat + r, z + 2], [alon, alat + r, z + 3],
      |        [alon, alat, z]]
      |      WHEN 2 THEN [[alon, alat, z], [alon + r, alat, z + 1]]
      |      WHEN 3 THEN [[alon + 400, alat, z], [alon + 400 + r, alat, z + 1],
      |        [alon + 400 + r, alat + r, z + 2], [alon + 400, alat + r, z + 3],
      |        [alon + 400, alat, z]]
      |      ELSE [[alon, alat, z], [alon + r, alat, z + 1],
      |        [alon + r, alat + r, z + 2]]
      |    END AS coords
      |  FROM o),
      |f2 AS (
      |  SELECT fid, cls, geom_type,
      |    list_transform(coords, p -> [p[1], p[2]]) AS c2
      |  FROM g),
      |v AS (
      |  SELECT fid, cls, geom_type, c2,
      |    len(list_filter(c2,
      |      p -> abs(p[1]) > 180.0 OR abs(p[2]) > 90.0)) = 0 AS in_range,
      |    c2[1] = c2[-1] AS closed
      |  FROM f2),
      |rep AS (
      |  SELECT fid, cls, geom_type, in_range,
      |    CASE WHEN geom_type = 'LineString' THEN len(c2) >= 2 AND in_range
      |      ELSE len(c2) >= 4 AND closed AND in_range END AS valid_raw,
      |    CASE WHEN geom_type = 'Polygon' AND NOT closed
      |      THEN list_append(c2, c2[1]) ELSE c2 END AS cr
      |  FROM v),
      |rv AS (
      |  SELECT fid, cls, geom_type, valid_raw, cr,
      |    CASE WHEN geom_type = 'LineString' THEN len(cr) >= 2 AND in_range
      |      ELSE len(cr) >= 4 AND cr[1] = cr[-1] AND in_range END
      |      AS valid_repaired
      |  FROM rep)
      |SELECT cls, geom_type, count(*) AS n,
      |  CAST(sum(CASE WHEN valid_raw THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_valid_raw,
      |  CAST(sum(CASE WHEN valid_repaired THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_valid_repaired,
      |  CAST(max(list_aggregate(list_transform(cr, p -> len(p)), 'max'))
      |    AS BIGINT) AS max_arity
      |FROM rv GROUP BY cls, geom_type
      |ORDER BY cls""".stripMargin) { (s, d) =>
    val o = graft.Tables.orders(s, d)
      .select(col("o_orderkey").as("fid"),
        pmod(col("o_orderkey"), lit(5)).as("cls"),
        SkiFeatures.anchorLon(col("o_orderkey")).as("alon"),
        SkiFeatures.anchorLat(col("o_orderkey")).as("alat"),
        ((pmod(col("o_orderkey"), lit(3)) + 1).cast("double") * 0.001).as("r"),
        pmod(col("o_orderkey"), lit(100)).cast("double").as("z"))
    def p(dlon: org.apache.spark.sql.Column, dlat: org.apache.spark.sql.Column,
        dz: Int) =
      array(col("alon") + dlon, col("alat") + dlat, col("z") + dz)
    val r = col("r")
    val zero = lit(0.0)
    val square = Seq(p(zero, zero, 0), p(r, zero, 1), p(r, r, 2), p(zero, r, 3))
    val farSquare = Seq(p(lit(400.0), zero, 0), p(lit(400.0) + r, zero, 1),
      p(lit(400.0) + r, r, 2), p(lit(400.0), r, 3))
    val coords = when(col("cls") === 0, array(square: _*))
      .when(col("cls") === 1, array(square :+ square.head: _*))
      .when(col("cls") === 2, array(square.take(2): _*))
      .when(col("cls") === 3, array(farSquare :+ farSquare.head: _*))
      .otherwise(array(square.take(3): _*))
    val g = o.select(col("fid"), col("cls"),
        when(col("cls") === 4, "LineString").otherwise("Polygon")
          .as("geom_type"),
        coords.as("coords"))
      .withColumn("c2", force2D(col("coords")))
    val validOf = (c: org.apache.spark.sql.Column) =>
      when(col("geom_type") === "LineString", lineValid(c))
        .otherwise(ringValid(c))
    g.withColumn("valid_raw", validOf(col("c2")))
      .withColumn("cr", when(col("geom_type") === "Polygon",
        closeRing(col("c2"))).otherwise(col("c2")))
      .withColumn("valid_repaired", validOf(col("cr")))
      .groupBy("cls", "geom_type")
      .agg(count(lit(1)).as("n"),
        sum(when(col("valid_raw"), 1).otherwise(0)).as("n_valid_raw"),
        sum(when(col("valid_repaired"), 1).otherwise(0))
          .as("n_valid_repaired"),
        max(array_max(transform(col("cr"), x => size(x)))).cast("long")
          .as("max_arity"))
      .orderBy("cls")
  }

  val specs: Seq[QuerySpec] = Seq(qValid)
}
