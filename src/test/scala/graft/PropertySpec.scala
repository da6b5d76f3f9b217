package graft

import org.scalacheck.{Gen, Prop, Properties}
import org.apache.spark.unsafe.types.UTF8String

import org.apache.spark.sql.catalyst.expressions.Literal

import graft.functions.RollingHash
import graft.operators.{MediaRecord, StubDecoder}

/** Property-based checks on the pure kernels (no Spark session needed —
  * the distributed paths are covered by the suite specs + DuckDB oracle).
  */
object PropertySpec extends Properties("graft.kernels") {

  private val asciiText: Gen[String] =
    Gen.listOf(Gen.choose(32.toChar, 126.toChar)).map(_.mkString)

  private def hashOf(s: String): Long =
    RollingHash(Literal(UTF8String.fromString(s)))
      .eval(null).asInstanceOf[Long]

  property("rolling hash equals the reference fold") =
    Prop.forAll(asciiText) { s =>
      val expected = {
        val bs = s.getBytes("UTF-8")
        var acc = if (bs.nonEmpty) (bs(0) & 0xff).toLong else 0L
        bs.drop(1).foreach(b => acc = (acc * 31 + (b & 0xff)) % RollingHash.Mod)
        acc
      }
      hashOf(s) == expected
    }

  property("rolling hash stays in [0, 2^31)") =
    Prop.forAll(asciiText) { s =>
      val v = hashOf(s)
      v >= 0 && v < RollingHash.Mod
    }

  property("rolling hash is order-sensitive (unlike set-based fingerprints)") =
    Prop.forAll(Gen.alphaLowerStr.suchThat(s => s.length >= 2 && s.toSet.size >= 2)) { s =>
      val rev = s.reverse
      // not a hard guarantee (collisions exist) but holds on alpha strings
      // short enough for the generator; equality would signal a broken fold
      s == rev || hashOf(s) != hashOf(rev)
    }

  private val payloadGen: Gen[Array[Byte]] =
    Gen.choose(0, 500).flatMap(n => Gen.listOfN(n, Gen.choose(-128, 127))
      .map(_.map(_.toByte).toArray))

  property("stub decoder frame count = ceil(bytes / frameSize)") =
    Prop.forAll(payloadGen) { p =>
      val f = new StubDecoder(64).decode(MediaRecord(1L, p))
      f.n_frames == (p.length + 63) / 64 && f.n_bytes == p.length
    }

  property("stub decoder mean byte bounded by [0, 255]") =
    Prop.forAll(payloadGen.suchThat(_.nonEmpty)) { p =>
      val f = new StubDecoder(64).decode(MediaRecord(1L, p))
      f.mean_byte >= 0.0 && f.mean_byte <= 255.0
    }

  property("UTF8String bytes round-trip (hash input representation)") =
    Prop.forAll(asciiText) { s =>
      UTF8String.fromString(s).getBytes.sameElements(s.getBytes("UTF-8"))
    }

  // ---- WeightedAvg: the partial-aggregation invariant ----

  private val pqGen: Gen[List[(Double, Double)]] =
    Gen.listOf(for {
      p <- Gen.choose(0, 99999999).map(_ / 100.0)
      q <- Gen.choose(1, 5000).map(_.toDouble)
    } yield (p, q))

  property("weighted avg is split-invariant (partial + merge == sequential)") =
    Prop.forAll(pqGen, Gen.choose(0, 1000)) { (xs, cut) =>
      import graft.functions.WeightedAvg
      val sequential = xs.foldLeft(WeightedAvg.zero)(WeightedAvg.reduce)
      val k = if (xs.isEmpty) 0 else cut % (xs.length + 1)
      val (a, b) = xs.splitAt(k)
      val merged = WeightedAvg.merge(
        a.foldLeft(WeightedAvg.zero)(WeightedAvg.reduce),
        b.foldLeft(WeightedAvg.zero)(WeightedAvg.reduce))
      // decimal buffers are exact, so the buffers — not just the finished
      // doubles — must be identical under any split
      merged == sequential &&
        WeightedAvg.finish(merged) == WeightedAvg.finish(sequential)
    }

  property("weighted avg of a constant price is that price") =
    Prop.forAll(Gen.choose(1, 99999).map(_ / 100.0),
      Gen.nonEmptyListOf(Gen.choose(1, 100).map(_.toDouble))) { (p, qs) =>
      import graft.functions.WeightedAvg
      val b = qs.map(q => (p, q)).foldLeft(WeightedAvg.zero)(WeightedAvg.reduce)
      math.abs(WeightedAvg.finish(b) - p) < 1e-9
    }

  // ---- DotProduct: codegen'd loop equals the naive left-to-right fold ----

  private val vecPair: Gen[(Array[Double], Array[Double])] =
    Gen.choose(0, 128).flatMap { n =>
      val d = Gen.choose(-1000000, 1000000).map(_ / 1000.0)
      for {
        a <- Gen.listOfN(n, d)
        b <- Gen.listOfN(n, d)
      } yield (a.toArray, b.toArray)
    }

  // ---- chunk start grid (mirrors Curation.chunkDocuments / its oracle:
  //      starts = sequence(1, max(n − C, 0) + S, S) with C=32, S=24) ----

  private def chunkStarts(n: Int, c: Int = 32, s: Int = 24): Seq[Int] =
    1 to (math.max(n - c, 0) + s) by s

  property("chunk grid tiles 1..n: starts on-grid, tail covered, no empties") =
    Prop.forAll(Gen.choose(1, 5000)) { n =>
      val starts = chunkStarts(n)
      starts.head == 1 &&
        starts.forall(st => st <= n) && // every chunk holds ≥1 token
        starts.last + 32 - 1 >= n &&    // the document end is covered
        starts.sliding(2).forall {
          case Seq(a, b) => b - a == 24
          case _ => true
        }
    }

  property("only the final chunk may be short") =
    Prop.forAll(Gen.choose(1, 5000)) { n =>
      val starts = chunkStarts(n)
      starts.init.forall(st => st + 32 - 1 <= n)
    }

  property("DotProduct.eval equals the sequential fold, bit for bit") =
    Prop.forAll(vecPair) { case (a, b) =>
      import graft.functions.DotProduct
      import org.apache.spark.sql.catalyst.util.ArrayData
      import org.apache.spark.sql.types.{ArrayType, DoubleType}
      val expr = DotProduct(
        Literal.create(ArrayData.toArrayData(a), ArrayType(DoubleType)),
        Literal.create(ArrayData.toArrayData(b), ArrayType(DoubleType)))
      val got = expr.eval(null).asInstanceOf[Double]
      var acc = 0.0
      var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }
      java.lang.Double.doubleToLongBits(got) ==
        java.lang.Double.doubleToLongBits(acc)
    }

  // ---- BoundedTopK: the bounded-heap partial-aggregation invariant ----

  private def topkAgg(k: Int) = {
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.types.{DoubleType, LongType}
    graft.functions.BoundedTopK(
      BoundReference(0, DoubleType, nullable = true),
      BoundReference(1, LongType, nullable = true), k)
  }

  private def topkEval(
      agg: graft.functions.BoundedTopK,
      buf: scala.collection.mutable.PriorityQueue[(Double, Long)])
      : Seq[(Double, Long)] = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    agg.eval(buf).asInstanceOf[GenericArrayData].array.toSeq
      .map(_.asInstanceOf[InternalRow])
      .map(r => (r.getDouble(0), r.getLong(1)))
  }

  private val scoredRows: Gen[List[(Double, Long)]] =
    Gen.listOf(for {
      s <- Gen.choose(-100000, 100000).map(_ / 100.0)
      i <- Gen.choose(0L, 50L) // small id range forces score ties
    } yield (s, i))

  property("bounded top-k is split-invariant and equals the full sort") =
    Prop.forAll(scoredRows, Gen.choose(0, 1000), Gen.choose(1, 8)) {
      (xs, cut, k) =>
        import org.apache.spark.sql.catalyst.InternalRow
        val agg = topkAgg(k)
        def build(rows: Seq[(Double, Long)]) =
          rows.foldLeft(agg.createAggregationBuffer()) { (b, t) =>
            agg.update(b, InternalRow(t._1, t._2))
          }
        val expected = xs.sortBy { case (s, i) => (-s, i) }.take(k)
        val at = if (xs.isEmpty) 0 else cut % (xs.length + 1)
        val (l, r) = xs.splitAt(at)
        topkEval(agg, build(xs)) == expected &&
          topkEval(agg, agg.merge(build(l), build(r))) == expected
    }

  property("bounded top-k buffer survives the shuffle serde round-trip") =
    Prop.forAll(scoredRows, Gen.choose(1, 8)) { (xs, k) =>
      import org.apache.spark.sql.catalyst.InternalRow
      val agg = topkAgg(k)
      val buf = xs.foldLeft(agg.createAggregationBuffer()) { (b, t) =>
        agg.update(b, InternalRow(t._1, t._2))
      }
      topkEval(agg, agg.deserialize(agg.serialize(buf))) ==
        topkEval(agg, buf)
    }

  property("bounded top-k buffer never exceeds k entries") =
    Prop.forAll(scoredRows, Gen.choose(1, 8)) { (xs, k) =>
      import org.apache.spark.sql.catalyst.InternalRow
      val agg = topkAgg(k)
      val buf = xs.foldLeft(agg.createAggregationBuffer()) { (b, t) =>
        agg.update(b, InternalRow(t._1, t._2))
      }
      buf.size <= k
    }

  // ---- merge-on-read deletion-vector kernels (no session needed) ---------

  private val rowsAndDeletes: Gen[(Int, Set[Int])] = for {
    n <- Gen.choose(0, 24)
    d <- Gen.someOf(0 until n)
  } yield (n, d.toSet)

  private def lakeRows(n: Int) = Vector.tabulate(n)(i =>
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](i.toLong))
      : org.apache.spark.sql.catalyst.InternalRow)

  /** Write `rows` to a NEW parquet file; its size in bytes. */
  private def writeParquet(path: String, names: Seq[String],
      types: Seq[org.apache.spark.sql.types.DataType],
      rows: Seq[org.apache.spark.sql.catalyst.InternalRow]): Long = {
    val w = graft.sources.GraftParquetIO.writer(path, names, types)
    try rows.foreach(w.write) finally w.close()
    java.nio.file.Files.size(java.nio.file.Paths.get(path))
  }

  /** Rows `0 until n` read back through a one-column (`k BIGINT`) lake
    * file's reader, with `dead` as the file's deletion vector. */
  private def dvRead(n: Int, dead: Set[Int],
      req: org.apache.spark.sql.types.StructType)
      : List[org.apache.spark.sql.catalyst.InternalRow] = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.types.LongType
    import graft.sources.{GraftLakeColumnar, GraftLakeFilePartition}
    val f = java.io.File.createTempFile("graft_dv_prop", ".parquet")
    f.delete() // the writer creates a NEW file
    try {
      writeParquet(f.getAbsolutePath, Seq("k"), Seq(LongType), lakeRows(n))
      val reader = GraftLakeColumnar.reader(GraftLakeFilePartition("f",
        dead.map(_.toLong).toArray.sorted, Seq("k"), f.getAbsolutePath,
        Seq(LongType), Seq("k")), req, Map.empty)
      val got = List.newBuilder[org.apache.spark.sql.catalyst.InternalRow]
      try while (reader.next())
        reader.get().rowIterator().asScala.foreach(got += _.copy())
      finally reader.close()
      got.result()
    } finally { f.delete(); () }
  }

  /** Write `rows` as a lake file and read them back through the one
    * reader ([[graft.sources.GraftLakeColumnar.liveRows]]): (file bytes,
    * rows). */
  private def lakeRoundTrip(names: Seq[String],
      types: Seq[org.apache.spark.sql.types.DataType],
      rows: Vector[org.apache.spark.sql.catalyst.InternalRow])
      : (Long, List[org.apache.spark.sql.catalyst.InternalRow]) = {
    import graft.sources.{GraftLakeColumnar, GraftLakeFilePartition}
    val f = java.io.File.createTempFile("graft_pq_prop", ".parquet")
    f.delete() // parquet-mr refuses to overwrite an existing file
    try {
      val bytes = writeParquet(f.getAbsolutePath, names, types, rows)
      (bytes, GraftLakeColumnar.liveRows(GraftLakeFilePartition("f",
        Array.empty, names, f.getAbsolutePath, types, names))(
        _.map(_.copy()).toList))
    } finally { f.delete(); () }
  }

  property("DV filter keeps exactly the non-deleted rows, in order") =
    Prop.forAll(rowsAndDeletes) { case (n, dead) =>
      import org.apache.spark.sql.types.{LongType, StructField, StructType}
      dvRead(n, dead, StructType(Seq(StructField("k", LongType))))
        .map(_.getLong(0)) ==
        (0 until n).filterNot(dead).map(_.toLong).toList
    }

  // ---- parquet-backed lake storage round trip -----------------------------

  private val pqRows: Gen[List[(Option[Long], Option[Double],
      Option[String], Option[Boolean])]] =
    Gen.listOfN(40, for {
      l <- Gen.option(Gen.choose(Long.MinValue, Long.MaxValue))
      d <- Gen.option(Gen.oneOf(Gen.choose(-1e12, 1e12),
        Gen.oneOf(0.0, -0.0, Double.MaxValue, Double.MinPositiveValue)))
      s <- Gen.option(asciiText)
      b <- Gen.option(Gen.oneOf(true, false))
    } yield (l, d, s, b)).map(_.take(40))

  property("GraftParquetIO round-trips rows, order and nulls intact") =
    Prop.forAll(pqRows) { xs =>
      import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
      import org.apache.spark.sql.types._
      val types: Seq[DataType] =
        Seq(LongType, DoubleType, StringType, BooleanType)
      val rows = xs.map { case (l, d, s, b) =>
        new GenericInternalRow(Array[Any](
          l.map(Long.box).orNull, d.map(Double.box).orNull,
          s.map(UTF8String.fromString).orNull, b.map(Boolean.box).orNull))
          : org.apache.spark.sql.catalyst.InternalRow
      }.toVector
      val (bytes, back) = lakeRoundTrip(Seq("l", "d", "s", "b"), types, rows)
      bytes > 0 && back.length == rows.length &&
        back.zip(rows).forall { case (g, e) =>
          (0 until 4).forall { i =>
            (g.isNullAt(i) && e.isNullAt(i)) ||
              (!g.isNullAt(i) && !e.isNullAt(i) &&
                g.get(i, types(i)) == e.get(i, types(i)))
          }
        }
    }

  // arrays (parquet 3-level LIST groups): null arrays, EMPTY arrays and
  // null elements must all survive distinctly — the embeddings-fixture
  // shapes (ARRAY<FLOAT>) plus string arrays
  private val pqArrayRows: Gen[List[(Option[List[Option[Float]]],
      Option[List[Option[String]]])]] =
    Gen.listOfN(25, for {
      fa <- Gen.option(Gen.listOf(Gen.option(
        Gen.oneOf(Gen.choose(-1e6f, 1e6f),
          Gen.oneOf(0.0f, -0.0f, Float.MaxValue)))))
      sa <- Gen.option(Gen.listOf(Gen.option(asciiText)))
    } yield (fa, sa))

  property("GraftParquetIO round-trips ARRAY columns incl empty/null shapes") =
    Prop.forAll(pqArrayRows) { xs =>
      import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
      import org.apache.spark.sql.catalyst.util.GenericArrayData
      import org.apache.spark.sql.types._
      val types: Seq[DataType] =
        Seq(ArrayType(FloatType), ArrayType(StringType))
      def arr(vs: Option[List[Option[Any]]]): Any =
        vs.map(l => new GenericArrayData(
          l.map(_.orNull).toArray[Any])).orNull
      val rows = xs.map { case (fa, sa) =>
        new GenericInternalRow(Array[Any](
          arr(fa.map(_.map(_.map(Float.box)))),
          arr(sa.map(_.map(_.map(UTF8String.fromString))))))
          : org.apache.spark.sql.catalyst.InternalRow
      }.toVector
      val back = lakeRoundTrip(Seq("emb", "tags"), types, rows)._2
      def norm(r: org.apache.spark.sql.catalyst.InternalRow)
          : (Option[List[Any]], Option[List[Any]]) = (
        if (r.isNullAt(0)) None
        else Some(r.getArray(0).toObjectArray(FloatType).toList),
        if (r.isNullAt(1)) None
        else Some(r.getArray(1).toObjectArray(StringType).toList))
      back.length == rows.length &&
        back.map(norm) == rows.map(norm)
    }

  // nested containers (STRUCT groups, 3-level MAP, ARRAY<STRUCT>): the
  // training-data shapes — null containers, null fields inside present
  // containers, empty maps/arrays all distinct on the way back
  private val pqNestedRows: Gen[List[(
      Option[(Option[Long], Option[String])],
      Option[List[(String, Option[Double])]],
      Option[List[Option[(Option[Int], Option[String])]]])]] =
    Gen.listOfN(20, for {
      st <- Gen.option(Gen.zip(Gen.option(Gen.choose(-1000L, 1000L)),
        Gen.option(asciiText)))
      m <- Gen.option(Gen.listOf(Gen.zip(
        Gen.identifier.map(_.take(8)),
        Gen.option(Gen.choose(-1e6, 1e6)))))
      aos <- Gen.option(Gen.listOf(Gen.option(Gen.zip(
        Gen.option(Gen.choose(-99, 99)), Gen.option(asciiText)))))
    } yield (st, m.map(_.distinctBy(_._1)), aos))

  property("GraftParquetIO round-trips STRUCT/MAP/ARRAY<STRUCT> nesting") =
    Prop.forAll(pqNestedRows) { xs =>
      import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
      import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
      import org.apache.spark.sql.types._
      val stT = StructType(Seq(StructField("a", LongType),
        StructField("b", StringType)))
      val aosElemT = StructType(Seq(StructField("x", IntegerType),
        StructField("y", StringType)))
      val types: Seq[DataType] =
        Seq(stT, MapType(StringType, DoubleType), ArrayType(aosElemT))
      def struct(a: Option[Long], b: Option[String]) =
        new GenericInternalRow(Array[Any](a.map(Long.box).orNull,
          b.map(UTF8String.fromString).orNull))
      val rows = xs.map { case (st, m, aos) =>
        new GenericInternalRow(Array[Any](
          st.map { case (a, b) => struct(a, b) }.orNull,
          m.map(kvs => new ArrayBasedMapData(
            new GenericArrayData(
              kvs.map(kv => UTF8String.fromString(kv._1)).toArray[Any]),
            new GenericArrayData(
              kvs.map(_._2.map(Double.box).orNull).toArray[Any]))).orNull,
          aos.map(l => new GenericArrayData(l.map(_.map {
            case (x, y) => new GenericInternalRow(Array[Any](
              x.map(Int.box).orNull,
              y.map(UTF8String.fromString).orNull))
          }.orNull).toArray[Any])).orNull))
          : org.apache.spark.sql.catalyst.InternalRow
      }.toVector
      val back = lakeRoundTrip(Seq("st", "m", "aos"), types, rows)._2
      // canonical view: every container flattened to comparable scala
      def normStruct(v: Any): Any = v match {
        case null => null
        case r: org.apache.spark.sql.catalyst.InternalRow =>
          (if (r.isNullAt(0)) null else r.getLong(0),
            if (r.isNullAt(1)) null else r.getUTF8String(1).toString)
      }
      def norm(r: org.apache.spark.sql.catalyst.InternalRow) = (
        normStruct(if (r.isNullAt(0)) null else r.getStruct(0, 2)),
        if (r.isNullAt(1)) null
        else {
          val m = r.getMap(1)
          m.keyArray().toObjectArray(StringType).map(_.toString).toList
            .zip(m.valueArray().toObjectArray(DoubleType).toList)
        },
        if (r.isNullAt(2)) null
        else r.getArray(2).toObjectArray(aosElemT).toList.map {
          case null => null
          case e: org.apache.spark.sql.catalyst.InternalRow =>
            (if (e.isNullAt(0)) null else e.getInt(0),
              if (e.isNullAt(1)) null else e.getUTF8String(1).toString)
        })
      back.length == rows.length && back.map(norm) == rows.map(norm)
    }

  // ---- one-pass file stats: the collector the lake writer feeds ----------

  /** `rows` through one file's stats collector — the writer's pass. */
  private def statsOf(rows: Seq[org.apache.spark.sql.catalyst.InternalRow],
      ids: Seq[Int], types: Seq[org.apache.spark.sql.types.DataType])
      : graft.sources.GraftLakeFile = {
    val c = new graft.sources.GraftLakeStats.Collector(ids, types)
    rows.foreach(c.add)
    c.file("f.parquet", 0L, ids.map(i => s"c$i"), None, 0)
  }

  private val statsRows
      : Gen[List[(Option[Long], Option[String], Option[BigDecimal])]] =
    Gen.choose(0, 30).flatMap(n => Gen.listOfN(n, for {
      k <- Gen.option(Gen.choose(-1000000000000000L, 1000000000000000L))
      s <- Gen.option(Gen.listOf(Gen.oneOf("a", "b", "z", "\u00e9", "\u4e2d"))
        .map(_.mkString))
      d <- Gen.option(Gen.choose(-10000000000L, 10000000000L)
        .map(u => BigDecimal(u, 2)))
    } yield (k, s, d)))

  property("the collector's min/max/nulls/sums equal Spark's aggregates") =
    Prop.forAll(statsRows) { vals =>
      import org.apache.spark.sql.{functions => F, Row}
      import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(StructField("k", LongType),
        StructField("s", StringType), StructField("d", DecimalType(12, 2))))
      val rows = vals.map { case (k, s, d) =>
        Row(k.orNull, s.orNull, d.map(_.bigDecimal).orNull) }
      // the writer's input is a reused buffer: every row below is the
      // same UnsafeRow, overwritten by the next projection
      val toCatalyst =
        org.apache.spark.sql.catalyst.CatalystTypeConverters
          .createToCatalystConverter(schema)
      val unsafe = UnsafeProjection.create(schema)
      val c = new graft.sources.GraftLakeStats.Collector(Seq(1, 2, 3),
        schema.fields.map(_.dataType).toSeq)
      rows.foreach(r => c.add(unsafe(
        toCatalyst(r).asInstanceOf[org.apache.spark.sql.catalyst.InternalRow])))
      val f = c.file("f.parquet", 0L, schema.fieldNames.toSeq, None, 0)
      val spark = Session.local(4)
      val agg = spark.createDataFrame(
        java.util.Arrays.asList(rows: _*), schema)
        .agg(F.min("k"), F.max("k"), F.count("k"), F.sum("k"),
          F.min("s"), F.max("s"), F.count("s"),
          F.min("d"), F.max("d"), F.count("d"), F.sum("d"), F.count("*"))
        .head()
      def internal(v: Any): Any = v match {
        case s: String => UTF8String.fromString(s)
        case d: java.math.BigDecimal => Decimal(d, 12, 2)
        case other => other
      }
      def minMax(id: Int, at: Int) =
        f.stats(id) == ((internal(agg.get(at)), internal(agg.get(at + 1))))
      val n = agg.getLong(11)
      def sumOr0(at: Int, zero: Any): Any =
        if (agg.isNullAt(at)) zero else agg.get(at)
      f.numRows == n &&
        minMax(1, 0) && minMax(2, 4) && minMax(3, 7) &&
        f.nulls == Map(1 -> (n - agg.getLong(2)), 2 -> (n - agg.getLong(6)),
          3 -> (n - agg.getLong(9))) &&
        f.sums == Map(1 -> sumOr0(3, 0L)) &&
        f.dsums(3).compareTo(
          sumOr0(10, java.math.BigDecimal.ZERO)
            .asInstanceOf[java.math.BigDecimal]) == 0
    }

  // ---- min/max file-skipping soundness ------------------------------------

  private val statsCase: Gen[(List[Option[Long]], String, Long)] = for {
    vals <- Gen.listOfN(20, Gen.option(Gen.choose(-100L, 100L)))
    op <- Gen.oneOf("=", "<", "<=", ">", ">=")
    lit <- Gen.choose(-120L, 120L)
  } yield (vals, op, lit)

  property("stats pruning is SOUND: an excluded file has no matching row") =
    Prop.forAll(statsCase) { case (vals, op, lit) =>
      import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
      import org.apache.spark.sql.catalyst.InternalRow
      import org.apache.spark.sql.connector.expressions.Expressions
      import org.apache.spark.sql.connector.expressions.filter.Predicate
      import org.apache.spark.sql.types.LongType
      val rows = vals.map(v => new GenericInternalRow(
        Array[Any](v.map(Long.box).orNull)): InternalRow).toVector
      val stats = statsOf(rows, Seq(7), Seq(LongType)).stats
      val f = graft.sources.GraftLakeFile("f", Seq(7), "f.parquet",
        pnames = Seq("k"),
        numRows = rows.length, stats = stats)
      val pred = new Predicate(op, Array(
        Expressions.column("k"), Expressions.literal(lit)))
      val may = graft.sources.GraftLakeStats.mayMatch(
        f, Seq(pred), Map("k" -> 7))
      val truly = vals.flatten.exists { v =>
        op match {
          case "=" => v == lit
          case "<" => v < lit
          case "<=" => v <= lit
          case ">" => v > lit
          case ">=" => v >= lit
        }
      }
      // SOUNDNESS always: pruning (may == false) implies no row matches.
      // TIGHTNESS only for range ops, where min/max decide exactly; "="
      // is correctly conservative for interior literals (a range can
      // cover a value no row holds).
      if (op == "=") !truly || may else may == truly
    }

  // Nested-leaf pruning: rows are STRUCT<leaf BIGINT> with null structs
  // and null leaves; a pruned file must hold no matching row under real
  // per-row evaluation (null struct ⇒ null leaf), for every op
  private val nestedStatsCase
      : Gen[(List[Option[Option[Long]]], String, Long)] = for {
    vals <- Gen.listOfN(20,
      Gen.option(Gen.option(Gen.choose(-100L, 100L))))
    op <- Gen.oneOf("=", "<", "<=", ">", ">=", "<>",
      "IS_NULL", "IS_NOT_NULL")
    lit <- Gen.choose(-120L, 120L)
  } yield (vals, op, lit)

  property("nested-leaf pruning is SOUND: a pruned file has no match") =
    Prop.forAll(nestedStatsCase) { case (vals, op, lit) =>
      import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
      import org.apache.spark.sql.catalyst.InternalRow
      import org.apache.spark.sql.connector.expressions.Expressions
      import org.apache.spark.sql.connector.expressions.filter.Predicate
      import org.apache.spark.sql.types.{LongType, StructField, StructType}
      val stT = StructType(Seq(StructField("leaf", LongType)))
      // vals: None = null struct; Some(None) = struct with null leaf
      val rows = vals.map(v => new GenericInternalRow(Array[Any](
        v.map(leaf => new GenericInternalRow(
          Array[Any](leaf.map(Long.box).orNull))).orNull)): InternalRow)
        .toVector
      val (nstats, nnulls) = {
        val s = statsOf(rows, Seq(7), Seq(stT))
        (s.nstats, s.nnulls)
      }
      val f = graft.sources.GraftLakeFile("f", Seq(7), "f.parquet",
        pnames = Seq("s"),
        numRows = rows.length,
        types = Seq(stT), nstats = nstats, nnulls = nnulls)
      val ref = Expressions.column("s.leaf")
      val pred =
        if (op == "IS_NULL" || op == "IS_NOT_NULL")
          new Predicate(op, Array[
            org.apache.spark.sql.connector.expressions.Expression](ref))
        else new Predicate(op, Array(ref, Expressions.literal(lit)))
      val may = graft.sources.GraftLakeStats.mayMatch(
        f, Seq(pred), Map("s" -> 7))
      // real evaluation: s.leaf of a null struct IS NULL
      val leaves = vals.map(_.flatten)
      val truly = op match {
        case "IS_NULL" => leaves.exists(_.isEmpty)
        case "IS_NOT_NULL" => leaves.exists(_.isDefined)
        case _ => leaves.flatten.exists { v =>
          op match {
            case "=" => v == lit
            case "<" => v < lit
            case "<=" => v <= lit
            case ">" => v > lit
            case ">=" => v >= lit
            case "<>" => v != lit
          }
        }
      }
      !truly || may // SOUNDNESS: pruning implies no matching row
    }

  // Doubles including the SQL-equal-but-compareTo-unequal ±0.0 pair and
  // NaN (ADVICE r12 medium), plus IS [NOT] NULL and IN over the
  // recorded null counts — soundness must hold for every op
  private val doubleStatsCase
      : Gen[(List[Option[Double]], String, List[Double])] = for {
    vals <- Gen.listOfN(20, Gen.option(Gen.oneOf(
      Gen.choose(-100.0, 100.0).map(v => math.rint(v) / 2),
      Gen.oneOf(0.0, -0.0, Double.NaN, -50.0, 50.0))))
    op <- Gen.oneOf("=", "<", "<=", ">", ">=", "<>", "IN",
      "IS_NULL", "IS_NOT_NULL")
    lits <- Gen.listOfN(3, Gen.oneOf(
      Gen.choose(-120.0, 120.0).map(v => math.rint(v) / 2),
      Gen.oneOf(0.0, -0.0, Double.NaN)))
  } yield (vals, op, lits)

  property("stats pruning stays SOUND on doubles incl ±0.0/NaN and null ops") =
    Prop.forAll(doubleStatsCase) { case (vals, op, lits) =>
      import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
      import org.apache.spark.sql.catalyst.InternalRow
      import org.apache.spark.sql.connector.expressions.Expressions
      import org.apache.spark.sql.connector.expressions.filter.Predicate
      import org.apache.spark.sql.types.DoubleType
      val rows = vals.map(v => new GenericInternalRow(
        Array[Any](v.map(Double.box).orNull)): InternalRow).toVector
      val s = statsOf(rows, Seq(7), Seq(DoubleType))
      val (stats, nulls) = (s.stats, s.nulls)
      val f = graft.sources.GraftLakeFile("f", Seq(7), "f.parquet",
        pnames = Seq("k"),
        numRows = rows.length,
        stats = stats, nulls = nulls)
      val colRef = Expressions.column("k")
      val pred = op match {
        case "IS_NULL" | "IS_NOT_NULL" =>
          new Predicate(op, Array[
            org.apache.spark.sql.connector.expressions.Expression](colRef))
        case "IN" => new Predicate("IN",
          (colRef +: lits.map(Expressions.literal(_))).toArray[
            org.apache.spark.sql.connector.expressions.Expression])
        case o => new Predicate(o,
          Array(colRef, Expressions.literal(lits.head)))
      }
      val may = graft.sources.GraftLakeStats.mayMatch(
        f, Seq(pred), Map("k" -> 7))
      // ground truth via Spark SQL semantics: NaN equals NaN and sorts
      // greatest; -0.0 == 0.0
      def sqlCmp(a: Double, b: Double): Int =
        java.lang.Double.compare(if (a == 0.0) 0.0 else a,
          if (b == 0.0) 0.0 else b)
      val truly = op match {
        case "IS_NULL" => vals.exists(_.isEmpty)
        case "IS_NOT_NULL" => vals.exists(_.nonEmpty)
        case "IN" =>
          vals.flatten.exists(v => lits.exists(l => sqlCmp(v, l) == 0))
        case o => vals.flatten.exists { v =>
          val c = sqlCmp(v, lits.head)
          o match {
            case "=" => c == 0
            case "<" => c < 0
            case "<=" => c <= 0
            case ">" => c > 0
            case ">=" => c >= 0
            case "<>" => c != 0
          }
        }
      }
      // SOUNDNESS: pruning implies no matching row, for every op
      !truly || may
    }

  // Strings incl. STARTS_WITH, and the EXACTNESS contract behind
  // fully-pushed predicates: whenever `decides` claims a file, the
  // predicate must evaluate identically for every row — all kept
  // (allTrue, may) or all dropped (!may) — because the scan builder
  // then returns it as NON-residual and Spark never re-applies it
  private val stringStatsCase
      : Gen[(List[Option[String]], String, List[String])] = for {
    alpha <- Gen.const("ab")
    word = Gen.choose(0, 4).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(alpha.toSeq)).map(_.mkString))
    vals <- Gen.listOfN(12, Gen.option(word))
    op <- Gen.oneOf("=", "<", "<=", ">", ">=", "<>", "IN",
      "IS_NULL", "IS_NOT_NULL", "STARTS_WITH", "NOT_EQ", "NOT_SW")
    lits <- Gen.listOfN(2, word)
  } yield (vals, op, lits)

  property("string pruning+decide stay sound and EXACT incl STARTS_WITH") =
    Prop.forAll(stringStatsCase) { case (vals, op, lits) =>
      import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
      import org.apache.spark.sql.catalyst.InternalRow
      import org.apache.spark.sql.connector.expressions.Expressions
      import org.apache.spark.sql.connector.expressions.filter.Predicate
      import org.apache.spark.sql.types.StringType
      val rows = vals.map(v => new GenericInternalRow(
        Array[Any](v.map(UTF8String.fromString).orNull)): InternalRow)
        .toVector
      val s = statsOf(rows, Seq(3), Seq(StringType))
      val (stats, nulls) = (s.stats, s.nulls)
      val f = graft.sources.GraftLakeFile("f", Seq(3), "f.parquet",
        pnames = Seq("s"),
        numRows = rows.length,
        stats = stats, nulls = nulls)
      val colRef = Expressions.column("s")
      val pred = op match {
        case "IS_NULL" | "IS_NOT_NULL" =>
          new Predicate(op, Array[
            org.apache.spark.sql.connector.expressions.Expression](colRef))
        case "IN" => new Predicate("IN",
          (colRef +: lits.map(l => Expressions.literal(
            UTF8String.fromString(l)))).toArray[
            org.apache.spark.sql.connector.expressions.Expression])
        case "NOT_EQ" | "NOT_SW" =>
          val inner = new Predicate(
            if (op == "NOT_EQ") "=" else "STARTS_WITH",
            Array(colRef,
              Expressions.literal(UTF8String.fromString(lits.head))))
          new Predicate("NOT", Array[
            org.apache.spark.sql.connector.expressions.Expression](inner))
        case o => new Predicate(o, Array(colRef,
          Expressions.literal(UTF8String.fromString(lits.head))))
      }
      val nameToId = Map("s" -> 3)
      val may = graft.sources.GraftLakeStats.mayMatch(f, Seq(pred), nameToId)
      val decided = graft.sources.GraftLakeStats.decides(f, pred, nameToId)
      // per-row SQL evaluation (NULL comparisons drop the row)
      def keeps(v: Option[String]): Boolean = op match {
        case "IS_NULL" => v.isEmpty
        case "IS_NOT_NULL" => v.nonEmpty
        case "IN" => v.exists(lits.contains)
        case "STARTS_WITH" => v.exists(_.startsWith(lits.head))
        // NOT p keeps a row only when p IS FALSE (NULL stays dropped)
        case "NOT_EQ" => v.exists(_ != lits.head)
        case "NOT_SW" => v.exists(!_.startsWith(lits.head))
        case "<>" => v.exists(_ != lits.head)
        case o => v.exists { s =>
          val c = s.compareTo(lits.head) // ASCII: byte order = string order
          o match {
            case "=" => c == 0
            case "<" => c < 0
            case "<=" => c <= 0
            case ">" => c > 0
            case ">=" => c >= 0
          }
        }
      }
      val kept = vals.count(keeps)
      val sound = kept == 0 || may
      val exact = !decided ||
        (if (may) kept == vals.length else kept == 0)
      sound && exact
    }

  // Manifest SUMs: exact reference fold over non-nulls, refused (no
  // entry) exactly when the running Long sum overflows — an unfaithful
  // sum must never be recorded
  private val sumVals: Gen[List[Option[Long]]] =
    Gen.listOfN(12, Gen.option(Gen.oneOf(
      Gen.choose(-1000L, 1000L),
      Gen.oneOf(Long.MaxValue, Long.MinValue, Long.MaxValue - 5, 0L))))

  property("intSums equals the reference fold or refuses on overflow") =
    Prop.forAll(sumVals) { vals =>
      import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
      import org.apache.spark.sql.catalyst.InternalRow
      import org.apache.spark.sql.types.LongType
      val rows = vals.map(v => new GenericInternalRow(
        Array[Any](v.map(Long.box).orNull)): InternalRow).toVector
      val got = statsOf(rows, Seq(4), Seq(LongType)).sums.get(4)
      // reference: running sum in arbitrary precision, overflow = any
      // PREFIX leaving the Long range (addExact is sequential)
      var acc = BigInt(0)
      var overflow = false
      vals.flatten.foreach { v =>
        acc += v
        if (acc < Long.MinValue || acc > Long.MaxValue) overflow = true
      }
      if (overflow) got.isEmpty else got.contains(acc.toLong)
    }

  // Manifest DECIMAL sums (r14): collection is UNBOUNDED BigDecimal —
  // exact and never refused (overflow handling moves to the pushdown's
  // fit-check against decimal(p+10, s)); the recorded sum must equal
  // the arbitrary-precision reference fold over non-null values
  private val decVals: Gen[List[Option[Long]]] =
    Gen.listOfN(12, Gen.option(Gen.oneOf(
      Gen.choose(-100000L, 100000L),
      Gen.oneOf(999999999999L, -999999999999L, 0L))))

  property("decSums equals the exact BigDecimal fold over non-nulls") =
    Prop.forAll(decVals) { vals =>
      import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
      import org.apache.spark.sql.catalyst.InternalRow
      import org.apache.spark.sql.types.{Decimal, DecimalType}
      val dt = DecimalType(12, 2)
      val rows = vals.map(v => new GenericInternalRow(
        Array[Any](v.map(u => Decimal(u, 12, 2)).orNull)): InternalRow)
        .toVector
      val got = statsOf(rows, Seq(4), Seq(dt)).dsums.get(4)
      val ref = vals.flatten
        .map(u => java.math.BigDecimal.valueOf(u, 2))
        .foldLeft(java.math.BigDecimal.ZERO)(_.add(_))
      got.exists(_.compareTo(ref) == 0)
    }

  // A file that predates `ADD COLUMN ... DEFAULT` serves the default
  // for EVERY row — the stats layer must treat the absent column as
  // single-valued at the default, not as all-NULL (r13 review bug:
  // WHERE src = 'legacy' silently pruned pre-evolution files)
  private val defaultWord: Gen[String] =
    Gen.choose(0, 3).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b')).map(_.mkString))

  private val defaultCase
      : Gen[(Option[String], String, String, Int)] = for {
    dflt <- Gen.option(defaultWord)
    op <- Gen.oneOf("=", "<", ">", "<>", "IN",
      "IS_NULL", "IS_NOT_NULL", "STARTS_WITH")
    lit <- defaultWord
    n <- Gen.choose(1, 8)
  } yield (dflt, op, lit, n)

  property("absent columns prune and decide as their exists-default") =
    Prop.forAll(defaultCase) { case (dflt, op, lit, n) =>
      import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
      import org.apache.spark.sql.catalyst.InternalRow
      import org.apache.spark.sql.connector.expressions.Expressions
      import org.apache.spark.sql.connector.expressions.filter.Predicate
      // the file carries only column id 1; the predicate targets id 3,
      // added later with (or without) a declared default
      val rows = Vector.fill(n)(new GenericInternalRow(
        Array[Any](0L)): InternalRow)
      val f = graft.sources.GraftLakeFile("f", Seq(1), "f.parquet",
        pnames = Seq("s"),
        numRows = rows.length)
      val defaults: Map[Int, Any] =
        dflt.map(d => Map(3 -> (UTF8String.fromString(d): Any)))
          .getOrElse(Map.empty)
      val colRef = Expressions.column("s")
      val pred = op match {
        case "IS_NULL" | "IS_NOT_NULL" =>
          new Predicate(op, Array[
            org.apache.spark.sql.connector.expressions.Expression](colRef))
        case "IN" => new Predicate("IN", Array[
          org.apache.spark.sql.connector.expressions.Expression](
          colRef, Expressions.literal(UTF8String.fromString(lit))))
        case o => new Predicate(o, Array(colRef,
          Expressions.literal(UTF8String.fromString(lit))))
      }
      val nameToId = Map("s" -> 3)
      val may = graft.sources.GraftLakeStats.mayMatch(
        f, Seq(pred), nameToId, defaults)
      val decided = graft.sources.GraftLakeStats.decides(
        f, pred, nameToId, defaults)
      // ground truth: every row serves the default (or NULL)
      val rowKept = op match {
        case "IS_NULL" => dflt.isEmpty
        case "IS_NOT_NULL" => dflt.nonEmpty
        case "IN" | "=" => dflt.contains(lit)
        case "<>" => dflt.exists(_ != lit)
        case "<" => dflt.exists(_ < lit)
        case ">" => dflt.exists(_ > lit)
        case "STARTS_WITH" => dflt.exists(_.startsWith(lit))
      }
      val kept = if (rowKept) n else 0
      val sound = kept == 0 || may
      val exact = !decided || (if (may) kept == n else kept == 0)
      sound && exact
    }

  // ---- the file verdict: every row's outcome is in outcomes(f, p) --------
  // A file of a BIGINT `k` and a STRING `s` with nulls, plus a column `a`
  // it predates (every row serves a's exists-default, or NULL), under
  // predicates up to depth 3 of AND / OR / NOT over every leaf the
  // evaluator reads. The row-level meaning follows SQL's three-valued
  // logic (None = NULL).

  private object Verdict {
    import org.apache.spark.sql.connector.expressions.{Expression, Expressions}
    import org.apache.spark.sql.connector.expressions.filter.{AlwaysFalse, AlwaysTrue, And, Not, Or, Predicate}

    type Row3 = (Option[Long], Option[String], Option[Long])
    /** A pushed predicate and its value over a row. */
    final case class P(v2: Predicate, sql: Row3 => Option[Boolean])

    def and3(a: Option[Boolean], b: Option[Boolean]): Option[Boolean] =
      if (a.contains(false) || b.contains(false)) Some(false)
      else if (a.contains(true) && b.contains(true)) Some(true)
      else None
    def or3(a: Option[Boolean], b: Option[Boolean]): Option[Boolean] =
      and3(a.map(!_), b.map(!_)).map(!_)

    private val mirror = Map("<" -> ">", "<=" -> ">=", ">" -> "<", ">=" -> "<=")
    private def holds(op: String, c: Int): Boolean = op match {
      case "=" => c == 0
      case "<" => c < 0
      case "<=" => c <= 0
      case ">" => c > 0
      case ">=" => c >= 0
      case _ => c != 0
    }

    /** Comparisons (either way round), IN and the null tests over one
      * column: `get` reads it from a row, `lits` draws a literal. */
    private def over[T](name: String, get: Row3 => Option[T], lits: Gen[T],
        internal: T => Any, cmp: (T, T) => Int): Gen[P] = {
      val ref = Expressions.column(name)
      def lit(v: T): Expression = Expressions.literal(internal(v))
      Gen.oneOf(
        for {
          op <- Gen.oneOf("=", "<", "<=", ">", ">=", "<>")
          v <- lits
          flip <- Gen.oneOf(false, true)
        } yield P(
          if (flip) new Predicate(mirror.getOrElse(op, op), Array(lit(v), ref))
          else new Predicate(op, Array(ref, lit(v))),
          r => get(r).map(x => holds(op, cmp(x, v)))),
        Gen.choose(1, 3).flatMap(Gen.listOfN(_, lits)).map(vs => P(
          new Predicate("IN", (ref +: vs.map(lit)).toArray),
          r => vs.map(v => get(r).map(cmp(_, v) == 0)).reduce(or3))),
        Gen.const(P(new Predicate("IS_NULL", Array[Expression](ref)),
          r => Some(get(r).isEmpty))),
        Gen.const(P(new Predicate("IS_NOT_NULL", Array[Expression](ref)),
          r => Some(get(r).nonEmpty))))
    }

    val longs: Gen[Long] = Gen.choose(-3L, 3L)
    val strings: Gen[String] = Gen.choose(0, 3).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("a", "b", "\u00e9")).map(_.mkString))
    private def u(s: String): UTF8String = UTF8String.fromString(s)

    val leaf: Gen[P] = Gen.frequency(
      3 -> over[Long]("k", _._1, longs, Long.box, _ compare _),
      3 -> over[String]("s", _._2, strings, u, (x, y) => u(x).compareTo(u(y))),
      2 -> over[Long]("a", _._3, longs, Long.box, _ compare _),
      1 -> strings.map(pre => P(new Predicate("STARTS_WITH",
        Array(Expressions.column("s"), Expressions.literal(u(pre)))),
        r => r._2.map(_.startsWith(pre)))),
      1 -> Gen.oneOf(P(new AlwaysTrue, _ => Some(true)),
        P(new AlwaysFalse, _ => Some(false))))

    def pred(depth: Int): Gen[P] =
      if (depth == 0) leaf
      else Gen.frequency(
        2 -> leaf,
        1 -> Gen.zip(pred(depth - 1), pred(depth - 1)).map { case (a, b) =>
          P(new And(a.v2, b.v2), r => and3(a.sql(r), b.sql(r))) },
        1 -> Gen.zip(pred(depth - 1), pred(depth - 1)).map { case (a, b) =>
          P(new Or(a.v2, b.v2), r => or3(a.sql(r), b.sql(r))) },
        1 -> pred(depth - 1).map(a => P(new Not(a.v2), r => a.sql(r).map(!_))))

    /** (k, s) rows with a per-file null rate, a's default, a predicate. */
    val fileCase: Gen[(List[(Option[Long], Option[String])], Option[Long], P)] =
      for {
        nulls <- Gen.oneOf(0, 1, 3)
        n <- Gen.choose(0, 12)
        rows <- Gen.listOfN(n, Gen.zip(
          Gen.frequency(nulls -> Gen.const(None), 4 -> longs.map(Some(_))),
          Gen.frequency(nulls -> Gen.const(None), 4 -> strings.map(Some(_)))))
        dflt <- Gen.option(longs)
        p <- pred(3)
      } yield (rows, dflt, p)

    val nameToId = Map("k" -> 1, "s" -> 2, "a" -> 3)
  }

  property("every row's SQL outcome is in the file verdict outcomes(f, p)") =
    Prop.forAll(Verdict.fileCase) { case (rows, dflt, p) =>
      import graft.sources.GraftLakeStats
      import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
      import org.apache.spark.sql.types.{LongType, StringType}
      val f = statsOf(rows.map { case (k, s) => new GenericInternalRow(
        Array[Any](k.map(Long.box).orNull,
          s.map(UTF8String.fromString).orNull))
        : org.apache.spark.sql.catalyst.InternalRow },
        Seq(1, 2), Seq(LongType, StringType))
      val defaults: Map[Int, Any] = dflt.map(d => 3 -> (d: Any)).toMap
      val o = GraftLakeStats.outcomes(f, p.v2, Verdict.nameToId, defaults)
      rows.forall { case (k, s) =>
        (o & (p.sql((k, s, dflt)) match {
          case Some(true) => GraftLakeStats.True
          case Some(false) => GraftLakeStats.False
          case None => GraftLakeStats.Unknown
        })) != 0
      }
    }

  property("DV reader skips deleted positions and _pos stays original") =
    Prop.forAll(rowsAndDeletes) { case (n, dead) =>
      import org.apache.spark.sql.types.{LongType, StructField, StructType}
      val req = StructType(
        Seq(StructField("k", LongType), StructField("_pos", LongType)))
      dvRead(n, dead, req).map(r => (r.getLong(0), r.getLong(1))) ==
        (0 until n).filterNot(dead).map(i => (i.toLong, i.toLong)).toList
    }

  // ---- bloom file-skipping: false negatives are wrong answers -------------
  // A bloom MISS prunes the file outright and the residual filter can't
  // recover a pruned file, so EVERY written value must probe as a
  // possible match — for longs and strings, across widening (a file
  // written under INT probed with a BIGINT literal hashes identically).

  private def eqPred(col: String, v: Any,
      dt: org.apache.spark.sql.types.DataType) = {
    import org.apache.spark.sql.connector.expressions.Expressions
    // Expressions.literal infers the V2 type from the runtime class —
    // the same representation Spark pushes at plan time
    new org.apache.spark.sql.connector.expressions.filter.Predicate("=",
      Array(Expressions.column(col), Expressions.literal(v)))
  }

  property("bloom skipping never false-negatives a written long") =
    Prop.forAll(Gen.nonEmptyListOf(
      Gen.choose(Long.MinValue, Long.MaxValue))) { vs =>
      import graft.sources.{GraftLakeFile, GraftLakeStats}
      import org.apache.spark.sql.types.LongType
      val rows = vs.map(v =>
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](v))
          : org.apache.spark.sql.catalyst.InternalRow).toVector
      val s = statsOf(rows, Seq(0), Seq(LongType))
      val f = GraftLakeFile("f", Seq(0), "f.parquet",
        pnames = Seq("c"),
        numRows = rows.length, types = Seq(LongType),
        stats = s.stats,
        nulls = Map(0 -> 0L),
        blooms = s.blooms)
      vs.forall(v => GraftLakeStats.mayMatch(f,
        Seq(eqPred("c", v, LongType)), Map("c" -> 0)))
    }

  property("bloom skipping never false-negatives a written string") =
    Prop.forAll(Gen.nonEmptyListOf(asciiText)) { vs =>
      import graft.sources.{GraftLakeFile, GraftLakeStats}
      import org.apache.spark.sql.types.StringType
      val rows = vs.map(v =>
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](UTF8String.fromString(v)))
          : org.apache.spark.sql.catalyst.InternalRow).toVector
      val s = statsOf(rows, Seq(0), Seq(StringType))
      val f = GraftLakeFile("f", Seq(0), "f.parquet",
        pnames = Seq("c"),
        numRows = rows.length, types = Seq(StringType),
        stats = s.stats,
        nulls = Map(0 -> 0L),
        blooms = s.blooms)
      vs.forall(v => GraftLakeStats.mayMatch(f,
        Seq(eqPred("c", UTF8String.fromString(v), StringType)),
        Map("c" -> 0)))
    }

  property("bloom widening: INT-written file matches its BIGINT probe") =
    Prop.forAll(Gen.nonEmptyListOf(
      Gen.choose(Int.MinValue, Int.MaxValue))) { vs =>
      import graft.sources.{GraftLakeFile, GraftLakeStats}
      import org.apache.spark.sql.types.{IntegerType, LongType}
      val rows = vs.map(v =>
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](v))
          : org.apache.spark.sql.catalyst.InternalRow).toVector
      val s = statsOf(rows, Seq(0), Seq(IntegerType))
      val f = GraftLakeFile("f", Seq(0), "f.parquet",
        pnames = Seq("c"),
        numRows = rows.length, types = Seq(IntegerType),
        stats = s.stats,
        nulls = Map(0 -> 0L),
        blooms = s.blooms)
      vs.forall(v => GraftLakeStats.mayMatch(f,
        Seq(eqPred("c", v.toLong, LongType)), Map("c" -> 0)))
    }

  /** A GlobalOrder case: rows `(u, k, w)` — `u` unique (the tiebreak),
    * `k` a sort key with duplicates and nulls, `w` a weight that is null,
    * zero, small or large — plus shuffle partitions (more than rows or
    * distinct keys leaves range partitions empty) and a chunk count. */
  private val globalOrderCase: Gen[(List[(Option[Long], Option[Long])],
      Int, Int)] = for {
    n <- Gen.frequency(1 -> Gen.const(0), 2 -> Gen.choose(1, 5),
      4 -> Gen.choose(6, 60))
    rows <- Gen.listOfN(n, Gen.zip(
      Gen.option(Gen.choose(0L, 6L)),
      Gen.frequency(1 -> Gen.const(None), 1 -> Gen.const(Some(0L)),
        3 -> Gen.choose(1L, 100L).map(Some(_)),
        1 -> Gen.choose(1L << 50, 1L << 52).map(Some(_)))))
    parts <- Gen.choose(1, 8)
    chunks <- Gen.choose(1, 9)
  } yield (rows, parts, chunks)

  property("GlobalOrder: index/prefix equal the window, chunks cut exactly") =
    Prop.forAllNoShrink(globalOrderCase) { case (rows, parts, n) =>
      import Prop.propBoolean
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.types.{LongType, StructField, StructType}
      val spark = Session.local(4)
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows.zipWithIndex.map {
          case ((k, w), u) => Row(u.toLong, k.orNull, w.orNull) }, 3),
        StructType(Seq(StructField("u", LongType, nullable = false),
          StructField("k", LongType), StructField("w", LongType))))
      Session.withConfs(spark, "spark.sql.shuffle.partitions" -> s"$parts",
          "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
        val order = Seq(col("k"), col("u"))
        val go = GlobalOrder(df, order, Some("w"))
        val got = go.indexed("i", "b").select("u", "i", "b").collect()
          .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
        val byOrder = Window.orderBy(order: _*)
        val want = df.select(col("u"),
            (row_number().over(byOrder) - 1).cast(LongType),
            coalesce(sum("w").over(byOrder.rowsBetween(
              Window.unboundedPreceding, -1)), lit(0L)))
          .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
        val sorted = want.sortBy(_._2._1).map(_._1).toSeq
        val totals = df.agg(count(lit(1)), coalesce(sum("w"), lit(0L))).head()
        // chunk j holds global rows [j*c, (j+1)*c), c = ceil(live / n)
        val c = math.max(1L, (rows.length + n - 1L) / n)
        val cut = go.chunks(n)
          .mapPartitionsWithIndex((j, it) => it.map(r => (j, r.getLong(0))))
          .collect().toSeq
        // forChunks on the key alone (duplicates, nulls): each row once,
        // in key order, in the same exact chunks
        val byKey = GlobalOrder.forChunks(df, Seq(col("k")), Seq("u", "k"), n)
          .chunks(n).mapPartitionsWithIndex((j, it) => it.map(r =>
            (j, r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1)))))
          .collect().toSeq
        val keys = rows.map(_._1).sortBy(_.fold(Long.MinValue)(identity))
        (got == want.toMap) :| s"index/prefix $got vs $want" &&
        (byKey.map(_._2).sorted == rows.indices.map(_.toLong) &&
          byKey.map(_._3) == keys &&
          byKey.map(_._1) == cut.map(_._1)) :| s"forChunks $byKey" &&
        (go.total == totals.getLong(0) &&
          go.weightTotal == totals.getLong(1)) :|
          s"totals ${go.total}/${go.weightTotal} vs $totals" &&
        (cut.map(_._2) == sorted) :| s"chunk order $cut vs $sorted" &&
        cut.zipWithIndex.forall { case ((j, _), i) =>
          j == math.min(n - 1L, i / c) } :| s"chunk sizes $cut, c = $c"
      }
    }
}
