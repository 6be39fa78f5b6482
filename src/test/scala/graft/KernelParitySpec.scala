package graft

import graft.functions._
import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.GraftExpressionBridge.{column, expression}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression,
  InterpretedUnsafeProjection, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean
import org.scalatest.funsuite.AnyFunSuite

/** Eval/codegen parity for every native kernel in `graft.functions`:
  * each kernel expression, built through its public entry over bound
  * input slots, runs on generated rows through the interpreted
  * projection (`Expression.eval`) and through the generated one
  * (`doGenCode`), and the two output rows must be byte-identical —
  * or both must throw the same exception class. Inputs cover null,
  * empty and 1-element arrays, NaN/±Inf and non-ASCII strings.
  *
  * It also guards the kernel shape: the only hand-written Catalyst
  * `Expression` classes in `graft.functions` are the listed
  * exceptions; every other kernel is a `StaticInvoke` call on its
  * static routine, whose eval and generated code call the same method.
  */
class KernelParitySpec extends AnyFunSuite {

  /** Hand-written kernels, each with the reason it is not StaticInvoke. */
  private val handWritten = Map(
    "RunTagsExpr" -> "nondeterministic optimizer fence",
    "L2SqToLitExpr" -> "shipped reference object, boxed-null fold",
    "SynthTagsExpr" -> "variadic",
    "MvtPrepExpr" -> "PlanPinSpec pins it by class",
    "InRangeExpr" -> "IntervalJoinRule matches on it",
    "STDWithinExpr" -> "DistanceJoinRule matches on it",
    "AsofMatchExpr" -> "AsofJoinRule matches on it; Unevaluable")

  // ---- generators ---------------------------------------------------------

  private def orNull[T](g: Gen[T]): Gen[Any] =
    Gen.frequency(1 -> Gen.const(null), 8 -> g)

  /** null, empty, 1-element, or a short array with null elements. */
  private def arr[T](el: Gen[T]): Gen[Any] = Gen.frequency(
    1 -> Gen.const(null),
    1 -> Gen.const(Seq.empty),
    1 -> el.map(Seq(_)),
    5 -> Gen.listOf(orNull(el)).map(_.take(12)))

  // small integral values make ties (equal bounds, shared vertices)
  // common enough for boundary branches to run
  private val dbl: Gen[Double] = Gen.frequency(
    6 -> Gen.chooseNum(-200.0, 200.0),
    2 -> Gen.chooseNum(-3, 3).map(_.toDouble),
    1 -> Gen.oneOf(Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity, 0.0, -0.0, Double.MaxValue,
      Double.MinPositiveValue))

  private val lng: Gen[Long] = Gen.frequency(
    6 -> Gen.chooseNum(-70000L, 70000L),
    2 -> Gen.chooseNum(-3L, 3L),
    1 -> Gen.oneOf(0L, -1L, 1L, Long.MaxValue, Long.MinValue))

  private val word: Gen[String] = Gen.oneOf("the", "a", "of", "Piste",
    "straße", "ÉTÉ", "日本語", "😀", "x1", "42", "--", "", "İ", "ǅ", "ﬁ")

  private val str: Gen[String] = Gen.frequency(
    1 -> Gen.const(""),
    2 -> Gen.alphaNumStr.map(_.take(30)),
    2 -> Gen.asciiPrintableStr.map(_.take(30)),
    4 -> Gen.listOf(Gen.oneOf(word, Gen.oneOf(" ", "\t", "\n", ", ")))
      .map(_.take(16).mkString))

  private val bytes: Gen[Array[Byte]] =
    Gen.listOf(Gen.chooseNum(-128, 127).map(_.toByte)).map(_.take(64).toArray)

  private def hex(s: String): Array[Byte] =
    s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  private def be32(v: Int): String = f"$v%08X"
  private def le16(v: Int): String = f"${v & 0xff}%02X${(v >> 8) & 0xff}%02X"
  private def le32(v: Int): String = le16(v) + le16(v >>> 16)

  /** Real container headers (PNG/GIF/BMP/JPEG/WAV/MP4), random
    * dimensions, possibly truncated — plus random bytes.
    */
  private val media: Gen[Array[Byte]] = {
    val dim = Gen.chooseNum(0, 70000)
    val headers: Gen[Array[Byte]] = Gen.oneOf(
      Gen.zip(dim, dim).map { case (w, h) =>
        hex("89504E470D0A1A0A0000000D49484452" + be32(w) + be32(h) + "0802")
      },
      Gen.zip(dim, dim).map { case (w, h) =>
        hex("474946383961" + le16(w) + le16(h)) },
      Gen.zip(dim, dim).map { case (w, h) =>
        hex("424D" + "00" * 16 + le32(w) + le32(-h) + "0000") },
      Gen.zip(dim, dim).map { case (w, h) =>
        hex("FFD8FFE000104A46494600010100004800480000" +
          f"FFC0001108${h & 0xffff}%04X${w & 0xffff}%04X03011100")
      },
      Gen.zip(Gen.chooseNum(1, 8), Gen.chooseNum(0, 96000), dim).map {
        case (ch, rate, len) =>
          hex("52494646" + le32(36 + len) + "57415645" + "666D7420" +
            le32(16) + le16(1) + le16(ch) + le32(rate) +
            le32(rate * ch) + le16(ch) + le16(8) + "64617461" + le32(len))
      },
      Gen.zip(Gen.chooseNum(-5, 90000), Gen.chooseNum(0, Int.MaxValue))
        .map { case (ts, dur) =>
          hex("0000001066747970" + "69736F6D00000200" +
            "00000024" + "6D6F6F76" + "0000001C" + "6D766864" +
            "00000000" + "00000000" + "00000000" + be32(ts) + be32(dur))
        })
    Gen.frequency(
      1 -> bytes,
      4 -> Gen.zip(headers, Gen.chooseNum(0, 100)).map { case (b, pct) =>
        if (pct >= 60) b else b.take(b.length * pct / 60) })
  }

  private val point: Gen[Any] = Gen.frequency(
    1 -> Gen.const(null),
    1 -> Gen.listOfN(1, dbl),
    6 -> Gen.listOfN(2, dbl),
    1 -> Gen.listOfN(3, dbl))

  private val ring: Gen[Any] = arr(point)

  /** An MVT geometry command body: MoveTo(1) + LineTo(n), zigzag deltas. */
  private def geomCmds(pts: List[(Int, Int)]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def varint(v0: Long): Unit = {
      var v = v0
      while ((v & ~0x7fL) != 0) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
      out.write(v.toInt)
    }
    def zz(v: Int): Long = ((v << 1) ^ (v >> 31)).toLong & 0xffffffffL
    varint(9)
    varint(zz(pts.head._1)); varint(zz(pts.head._2))
    if (pts.size > 1) {
      varint(2 | ((pts.size - 1) << 3))
      pts.tail.foreach { case (x, y) => varint(zz(x)); varint(zz(y)) }
    }
    out.toByteArray
  }

  /** One tile's features (layer, fid, gtype, geom, pkeys, pvals),
    * sorted by (layer, fid) as the encoder wants.
    */
  private val features: Gen[Seq[Row]] = Gen.listOf(for {
    layer <- Gen.oneOf("runs", "lifts", "spots", "ÉTÉ")
    fid <- Gen.chooseNum(0L, 1000L)
    gtype <- Gen.oneOf(1, 2, 3)
    pts <- Gen.nonEmptyListOf(Gen.zip(Gen.chooseNum(-300, 4400),
      Gen.chooseNum(-300, 4400))).map(_.take(8))
    nTags <- Gen.chooseNum(0, 3)
    keys <- Gen.listOfN(nTags, Gen.oneOf("name", "type", "status"))
    vals <- Gen.listOfN(nTags, str)
  } yield Row(layer, fid, gtype, geomCmds(pts), keys, vals))
    .map(_.take(10).sortBy(r => (r.getString(0), r.getLong(1))))

  /** Tile bytes as the encode frames them — one `LayerStream` frame
    * per layer run, concatenated — or random bytes.
    */
  private val tile: Gen[Array[Byte]] = Gen.frequency(
    1 -> bytes,
    4 -> features.map(fs => fs.map(_.getString(0)).distinct.flatMap { name =>
      val ls = new MvtKernel.LayerStream(name)
      def strs(r: Row, i: Int) = new GenericArrayData(
        r.getSeq[String](i).map(UTF8String.fromString))
      fs.filter(_.getString(0) == name).foreach(r => ls.feature(r.getLong(1),
        r.getInt(2), r.getAs[Array[Byte]](3), strs(r, 4), strs(r, 5)))
      ls.frame()
    }.toArray))

  private val lonLat = StructType(Seq(
    StructField("lon", DoubleType), StructField("lat", DoubleType)))

  private val lonLatRow: Gen[Row] =
    Gen.zip(dbl, dbl).map { case (x, y) => Row(x, y) }

  /** (wkb_type, parts) shaped the way the encoder accepts: one vertex
    * per (Multi)Point part, one ring per (Multi)LineString part.
    */
  private val wellFormedGeom: Gen[Seq[Any]] = for {
    t <- Gen.chooseNum(1, 6)
    nParts <- if (t <= 3) Gen.const(1) else Gen.chooseNum(1, 3)
    nRings <- if (t % 3 == 0) Gen.chooseNum(1, 3) else Gen.const(1)
    nPts <- if (t % 3 == 1) Gen.const(1) else Gen.chooseNum(1, 6)
    parts <- Gen.listOfN(nParts,
      Gen.listOfN(nRings, Gen.listOfN(nPts, lonLatRow)))
  } yield Seq(t, parts)

  private val tagKeys = Seq("piste:type", "piste:difficulty",
    "piste:grooming", "piste:gladed", "gladed", "piste:oneway", "oneway",
    "piste:name", "name", "piste:ref", "ref", "website", "wikidata",
    "piste:abandoned", "disused", "proposed:piste:type", "tunnel",
    "piste:lit", "lit", "natural", "landuse")
  private val tagVals: Gen[String] = Gen.oneOf(Gen.const(null: String), str,
    Gen.oneOf("yes", "no", "downhill", "Downhill;Nordic", "nordic;junk",
      "easy", "classic;skating", "Q5;Q999", "R7 - Çà-Piste ÉTÉ"))

  private val formatterTagKeys = Seq("aerialway", "railway",
    "proposed:aerialway", "disused:railway", "passenger", "access", "foot",
    "aerialway:duration", "aerialway:occupancy", "aerialway:bubble",
    "oneway", "tunnel", "name", "name:en", "ref", "piste:ref", "wikidata",
    "website", "removed", "abandoned", "landuse", "abandoned:landuse",
    "site", "proposed:site", "sport")
  private val formatterTagVals: Gen[String] = Gen.oneOf(
    Gen.const(null: String), str, Gen.oneOf("yes", "no", "chair_lift",
      "gondola", "funicular", "tram", "demolished", "abandoned", "private",
      "skiing", "soccer", "2:30", "5.5", "0x1F", "1e300",
      "99999999999999999999:00", "L7 - Apex ÉTÉ"))
  private val formatterTags: Gen[Seq[Any]] = one(orNull(Gen.listOf(
    Gen.zip(Gen.oneOf(formatterTagKeys), formatterTagVals))
    .map(_.take(10).toMap)))

  // ---- kernels ------------------------------------------------------------

  private case class Kernel(name: String, in: Seq[DataType],
      gen: Gen[Seq[Any]], build: Seq[Expression] => Expression)

  private def dsl(name: String, in: Seq[DataType], gen: Gen[Seq[Any]])(
      f: Seq[Column] => Column): Kernel =
    Kernel(name, in, gen, es => expression(f(es.map(column))))

  private def one[T](g: Gen[T]): Gen[Seq[Any]] = g.map(Seq(_))

  private val coords = ArrayType(ArrayType(DoubleType))
  private val longs = ArrayType(LongType)
  private val strs = ArrayType(StringType)

  private val kernels: Seq[Kernel] = Seq(
    dsl("lineLengthM", Seq(coords), one(ring))(c =>
      GeoFunctions.lineLengthM(c(0))),
    dsl("dot", Seq(ArrayType(DoubleType), ArrayType(DoubleType)),
      Gen.zip(arr(dbl), arr(dbl)).map(t => Seq(t._1, t._2)))(c =>
      VectorFunctions.dot(c(0), c(1))),
    dsl("pointInPolygon", Seq(DoubleType, DoubleType, coords),
      Gen.zip(orNull(dbl), orNull(dbl), ring).map(t => Seq(t._1, t._2, t._3)))(
      c => PointInRingsExpr.pointInPolygon(c(0), c(1), c(2))),
    dsl("pointInRings", Seq(DoubleType, DoubleType, ArrayType(coords)),
      Gen.zip(orNull(dbl), orNull(dbl), arr(ring))
        .map(t => Seq(t._1, t._2, t._3)))(
      c => PointInRingsExpr.pointInRings(c(0), c(1), c(2))),
    dsl("hilbertD", Seq(LongType, LongType),
      Gen.zip(orNull(lng), orNull(lng)).map(t => Seq(t._1, t._2)))(c =>
      HilbertExpr.hilbertD(c(0), c(1))),
    dsl("shingles(1)", Seq(strs), one(arr(word)))(c =>
      ShinglesExpr.shingles(c(0), 1)),
    dsl("shingles(3)", Seq(strs), one(arr(word)))(c =>
      ShinglesExpr.shingles(c(0), 3)),
    dsl("minhashSig(4)", Seq(strs), one(arr(str)))(c =>
      MinHashSigExpr.minhashSig(c(0), 4)),
    dsl("simhash32", Seq(longs), one(arr(lng)))(c =>
      SimHash32Expr.simhash32(c(0))),
    dsl("gramHashes(3)", Seq(StringType), one(orNull(str)))(c =>
      GramHashExpr.gramHashes(c(0), 3)),
    dsl("rollingMin(3)", Seq(longs), one(arr(lng)))(c =>
      RollingMinExpr.rollingMin(c(0), 3)),
    dsl("vocabHits", Seq(strs), one(arr(word)))(c =>
      VocabHitsExpr.vocabHits(c(0), TextFunctions.enStopwords :+ "日本語")),
    dsl("tokenStats", Seq(StringType), one(orNull(str)))(c =>
      TokenStatsExpr.tokenStats(c(0))),
    dsl("gzip", Seq(BinaryType), one(orNull(bytes)))(c =>
      GzipExpr.gzip(c(0))),
    dsl("gunzip", Seq(BinaryType), one(orNull(Gen.frequency(
        4 -> bytes.map(GzipKernel.gzip), 1 -> bytes))))(c =>
      GzipExpr.gunzip(c(0))),
    dsl("mvtDecode", Seq(BinaryType), one(orNull(tile)))(c =>
      MvtDecodeExpr.mvtDecode(c(0))),
    dsl("sigMatchCount", Seq(longs, longs),
      Gen.zip(arr(Gen.chooseNum(0L, 3L)), arr(Gen.chooseNum(0L, 3L)))
        .map(t => Seq(t._1, t._2)))(c =>
      SigMatchCountExpr.sigMatchCount(c(0), c(1))),
    dsl("imageDims", Seq(BinaryType), one(orNull(media)))(c =>
      ImageDimsExpr.imageDims(c(0))),
    dsl("audioMeta", Seq(BinaryType), one(orNull(media)))(c =>
      AudioMetaExpr.audioMeta(c(0))),
    dsl("videoMeta", Seq(BinaryType), one(orNull(media)))(c =>
      VideoMetaExpr.videoMeta(c(0))),
    dsl("gpkgGeom", Seq(IntegerType,
        ArrayType(ArrayType(ArrayType(lonLat)))),
      Gen.frequency(
        1 -> Gen.zip(Gen.chooseNum(1, 6), arr(arr(arr(lonLatRow))))
          .map(t => Seq(t._1, t._2)),
        4 -> wellFormedGeom))(c =>
      GpkgGeomExpr.gpkgGeom(c(0), c(1))),
    // ---- the hand-written kernels ----
    dsl("RunTagsExpr", Seq(MapType(StringType, StringType)),
      one(orNull(Gen.listOf(Gen.zip(Gen.oneOf(tagKeys), tagVals))
        .map(_.take(10).toMap))))(c => RunTagsExpr.on(c(0), RunTagsKernel)),
    dsl("liftTags", Seq(MapType(StringType, StringType)), formatterTags)(c =>
      RunTagsExpr.on(c(0), LiftTagsKernel)),
    dsl("areaTags(landuse)", Seq(MapType(StringType, StringType)),
      formatterTags)(c => RunTagsExpr.on(c(0), LanduseTagsKernel)),
    dsl("areaTags(site)", Seq(MapType(StringType, StringType)),
      formatterTags)(c => RunTagsExpr.on(c(0), SiteTagsKernel)),
    dsl("L2SqToLitExpr", Seq(longs), one(arr(lng)))(c =>
      L2SqToLitExpr.l2sqToLit(c(0), Array(1.5, -2.0, 1e9))),
    dsl("SynthTagsExpr", Seq(LongType, LongType, LongType, IntegerType,
        DoubleType, DoubleType, DoubleType, StringType, StringType,
        StringType),
      Gen.sequence[Seq[Any], Any](Seq(orNull(lng), orNull(lng), orNull(lng),
        orNull(Gen.chooseNum(0, 9)), orNull(dbl), orNull(dbl), orNull(dbl),
        orNull(Gen.oneOf("R", "A", "N", "é")), orNull(str), orNull(str))))(
      c => SynthTagsExpr.synthTags(c: _*)),
    dsl("MvtPrepExpr", Seq(IntegerType,
        ArrayType(StructType(Seq(StructField("wx", LongType),
          StructField("wy", LongType)))),
        BooleanType,
        StructType(Seq(StructField("buf", IntegerType),
          StructField("shift", IntegerType), StructField("tx", LongType),
          StructField("ty", LongType)))),
      for {
        g <- Gen.oneOf(1, 2, 3)
        n <- Gen.chooseNum(1, 9)
        pts <- Gen.listOfN(n, Gen.zip(Gen.chooseNum(-20000L, 90000L),
          Gen.chooseNum(-20000L, 90000L)))
        simp <- Gen.oneOf(true, false)
        buf <- Gen.oneOf(0, 80)
        shift <- Gen.chooseNum(0, 4)
      } yield Seq(g, pts.map { case (x, y) => Row(x, y) }, simp,
        Row(buf, shift, 0L, 0L)))(c =>
      MvtPrepExpr.mvtPrep(c(0), c(1), c(2), c(3), 2L)),
    Kernel("InRangeExpr", Seq.fill(4)(LongType),
      Gen.sequence[Seq[Any], Any](Seq.fill(4)(orNull(lng))),
      es => InRangeExpr(es(0), es(1), es(2), es(3))),
    Kernel("STDWithinExpr", Seq.fill(5)(DoubleType),
      Gen.sequence[Seq[Any], Any](Seq.fill(5)(orNull(dbl))),
      es => STDWithinExpr(es(0), es(1), es(2), es(3), es(4))))

  // ---- parity -------------------------------------------------------------

  /** The projected row, or the class of what the kernel threw. */
  private def outcome(p: UnsafeProjection, row: InternalRow): Either[String, Any] =
    try Right(p(row).copy())
    catch { case e: Exception => Left(e.getClass.getName) }

  kernels.foreach { k =>
    test(s"${k.name}: interpreted eval equals generated code") {
      val e = k.build(k.in.zipWithIndex.map { case (dt, i) =>
        BoundReference(i, dt, nullable = true) })
      val interpreted = InterpretedUnsafeProjection.createProjection(Seq(e))
      val generated = GenerateUnsafeProjection.generate(Seq(e))
      val toRow = CatalystTypeConverters.createToCatalystConverter(
        StructType(k.in.zipWithIndex.map { case (dt, i) =>
          StructField(s"c$i", dt) }))
      val toScala =
        CatalystTypeConverters.createToScalaConverter(e.dataType)
      def show(o: Either[String, Any]): String = o match {
        case Right(r: InternalRow) =>
          if (r.isNullAt(0)) "null"
          else String.valueOf(toScala(r.get(0, e.dataType)))
        case other => other.toString
      }
      var rows = 0
      var threw = 0
      val prop = Prop.forAll(k.gen) { vals =>
        val row = toRow(Row.fromSeq(vals)).asInstanceOf[InternalRow]
        val a = outcome(interpreted, row)
        val b = outcome(generated, row)
        rows += 1
        if (a.isLeft) threw += 1
        (a == b) :| s"input $vals\ninterpreted ${show(a)}\ngenerated ${show(b)}"
      }
      val res = Test.check(
        Test.Parameters.default.withMinSuccessfulTests(300), prop)
      assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
      // the generators must mostly reach the kernel, not its error path
      assert(threw * 2 < rows, s"$threw of $rows inputs threw")
    }
  }

  test("the parity cases cover every kernel, kept and converted") {
    assert(handWritten.keySet - "AsofMatchExpr" ==
      kernels.map(_.name).filter(_.endsWith("Expr")).toSet,
      "AsofMatchExpr is Unevaluable; every other hand-written kernel " +
        "needs a parity case named after its class")
  }

  test("only the listed kernels are hand-written Expression classes") {
    val loc = classOf[RunTagsExpr].getProtectionDomain.getCodeSource
      .getLocation.toURI
    val base = new java.io.File(loc)
    val pkg = "graft/functions/"
    val names: Seq[String] =
      if (base.isDirectory)
        Option(new java.io.File(base, pkg).list()).toSeq.flatten
      else {
        val jar = new java.util.jar.JarFile(base)
        try {
          import scala.jdk.CollectionConverters._
          jar.entries().asScala.map(_.getName)
            .filter(n => n.startsWith(pkg) && n.indexOf('/', pkg.length) < 0)
            .map(_.stripPrefix(pkg)).toList
        } finally jar.close()
      }
    val exprs = names.filter(_.endsWith(".class"))
      .map(n => Class.forName("graft.functions." + n.stripSuffix(".class"),
        false, getClass.getClassLoader))
      .filter(c => classOf[Expression].isAssignableFrom(c))
      .map(_.getSimpleName).toSet
    assert(exprs.nonEmpty, s"no classes found under $base")
    assert(exprs == handWritten.keySet,
      "a new native kernel must be a StaticInvoke call on its static " +
        "routine, or be named in `handWritten` with its reason; found " +
        s"${(exprs -- handWritten.keySet).toSeq.sorted}, missing " +
        s"${(handWritten.keySet -- exprs).toSeq.sorted}")
  }
}
