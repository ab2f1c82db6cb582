package graft

import org.scalacheck.Gen

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Property tests for the catalog storage codecs — the encodings a
  * corrupted byte or an unsound bound would silently poison:
  *
  *  - the Parquet group-file codec ([[graft.sources.GraftRlCodec]]):
  *    full row round trip through an ACTUAL file, hostile strings,
  *    every double bit pattern class, required-column projection, and
  *    schema-evolution null-fill;
  *  - the typed stats grammar ([[graft.sources.GraftRlStats]]):
  *    bound escaping, truncation bracketing;
  *  - the metadata-delete proof engine and the stats pruner, fuzzed
  *    against brute-force row evaluation over BIGINT + DOUBLE (NaN
  *    included) + STRING (truncated bounds included) — a wrong
  *    AllRows verdict would make a metadata DELETE silently drop live
  *    rows, a wrong none-match prune would silently lose a COW
  *    rewrite's input;
  *  - [[graft.sources.ReplaySource]] offset JSON round trip.
  */
class CodecPropertySpec extends SparkSpec {

  private val hook = graft.sources.GraftCatalogTestHook

  private val hostileString: Gen[String] = Gen.listOf(Gen.frequency(
    5 -> Gen.alphaNumChar,
    1 -> Gen.oneOf(':', ',', '%', '_', '?', '\t', '\n', '\r', '\\', ' '),
    1 -> Gen.oneOf('€', 'ß', '中', ' '))).map(_.mkString)

  test("stats-bound escaping is identity and never leaks a raw " +
      "grammar separator or a bare sentinel") {
    val strings = Gen.listOfN(500, hostileString).sample.get ++
      Seq("_", "?", "%", "%25", ":", ",", "a:b,c", "", "plain",
        "\t\n\r", "%3A")
    strings.foreach { s =>
      val enc = hook.encodeBound(s)
      assert(hook.decodeBound(enc) == s,
        s"bound escape round trip broke on ${s.getBytes.toSeq}")
      assert(!enc.exists(c => c == ':' || c == ',' || c == '\t' ||
        c == '\n' || c == '\r'), s"raw separator leaked from '$s'")
      assert(enc != "_" && enc != "?",
        s"bare sentinel leaked from '$s'")
    }
  }

  test("string-bound truncation BRACKETS the data: truncLower is a " +
      "lower bound, truncUpper a strict upper bound, in UTF8 order") {
    val gen = Gen.listOf(Gen.frequency(
      6 -> Gen.alphaNumChar, 1 -> Gen.oneOf('€', '中', 'ÿ', ''),
      1 -> Gen.const('￿'))).map(_.mkString)
    val strings = Gen.listOfN(400, gen).sample.get ++
      Seq("a" * 100, "z" * 33, "中" * 40, "￿" * 35, "")
    strings.foreach { s =>
      val u = UTF8String.fromString(s)
      val lo = UTF8String.fromString(hook.truncLower(s))
      assert(lo.compareTo(u) <= 0, s"truncLower above '$s'")
      hook.truncUpper(s).foreach { hi =>
        assert(UTF8String.fromString(hi).compareTo(u) > 0,
          s"truncUpper '$hi' not strictly above '$s'")
      }
    }
  }

  test("parquet group codec round-trips every (long, string, double) " +
      "row through an actual file — projection and evolution included") {
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("s", StringType),
      StructField("v", DoubleType)))
    val doubles: Gen[Double] = Gen.oneOf(
      Gen.chooseNum(-1e300, 1e300),
      Gen.oneOf(0.0, -0.0, Double.NaN, Double.PositiveInfinity,
        Double.NegativeInfinity, Double.MinPositiveValue,
        java.lang.Double.longBitsToDouble(0x7ff8000000000123L))) // NaN payload
    val rows = Gen.listOfN(300,
      Gen.zip(Gen.long, hostileString, doubles)).sample.get ++
      Seq((0L, "\\N", 1.0), (1L, null, 2.0), (2L, "", -0.0))
    val in = rows.map { case (k, s, v) => InternalRow(k,
      if (s == null) null else UTF8String.fromString(s),
      java.lang.Double.valueOf(v))
    }
    Scratch.scoped("graft_codec_pq") { dir =>
      val f = dir.resolve("g.parquet")
      hook.writeGroup(f, schema, in)
      val back = hook.readGroup(f, schema, schema, width = 3)
      assert(back.size == rows.size, "row count drifted across the file")
      back.zip(rows).foreach { case (row, (k, s, v)) =>
        assert(row.getLong(0) == k)
        if (s == null) assert(row.isNullAt(1))
        else assert(row.getUTF8String(1).toString == s,
          s"string broke on ${s.getBytes.toSeq}")
        // bit-exact double round trip up to NaN canonicalization
        assert(java.lang.Double.doubleToRawLongBits(row.getDouble(2)) ==
          java.lang.Double.doubleToRawLongBits(v) ||
          (v.isNaN && row.getDouble(2).isNaN))
      }
      // required-column projection: only (v, k), reordered
      val proj = hook.readGroup(f, schema, StructType(Seq(
        StructField("v", DoubleType), StructField("k", LongType))),
        width = 3)
      proj.zip(rows).foreach { case (row, (k, _, v)) =>
        assert(row.getLong(1) == k)
        assert(java.lang.Double.doubleToRawLongBits(row.getDouble(0)) ==
          java.lang.Double.doubleToRawLongBits(v) ||
          (v.isNaN && row.getDouble(0).isNaN))
      }
      // schema evolution: a column beyond the file's width null-fills
      val evolved = schema.add(StructField("w", LongType))
      val evo = hook.readGroup(f, evolved, StructType(Seq(
        StructField("k", LongType), StructField("w", LongType))),
        width = 3)
      evo.zip(rows).foreach { case (row, (k, _, _)) =>
        assert(row.getLong(0) == k && row.isNullAt(1))
      }
    }
  }

  test("pinned replay offsets round-trip, and bare-integer offsets " +
      "from pre-pinning checkpoints still deserialize") {
    val names = Seq("epoch00001-p00000.csv", "seg with space.csv",
      "q\"uote.csv", "back\\slash.csv")
    for (i <- 1 to 4; n <- names) {
      val off = graft.sources.ReplaySourceTestHook.offsetPinned(i, n)
      assert(graft.sources.ReplaySourceTestHook
        .deserialize(off.json()) == off, s"pinned offset broke on '$n'")
    }
  }

  // ---- typed proof-engine fuzz -------------------------------------

  private val fuzzSchema = StructType(Seq(
    StructField("k", LongType), StructField("d", DoubleType),
    StructField("s", StringType)))

  private def vlit[T](v: T, dt: DataType)
      : org.apache.spark.sql.connector.expressions.Literal[T] =
    new org.apache.spark.sql.connector.expressions.Literal[T] {
      override def value(): T = v
      override def dataType(): DataType = dt
      override def describe(): String = String.valueOf(v)
    }

  /** Spark's double comparison: -0.0 == 0.0, NaN == NaN, NaN above
    * every other value. */
  private def dcmp(a: Double, b: Double): Int =
    if (a == b) 0 else java.lang.Double.compare(a, b)

  private val stringPool = Seq("", "a", "b", "m", "zz", "a:b", "%,_",
    "?", "_", "中中", "a" * 40, "a" * 40 + "b", "z" * 33, "tail\t\n")
  private val doublePool = Seq(-5.0, -0.0, 0.0, 1.5, 2.0, 7.25, 1e300,
    Double.NegativeInfinity, Double.PositiveInfinity, Double.NaN)

  private final case class FRow(k: Option[Long], d: Option[Double],
      s: Option[String]) {
    def internal: InternalRow = InternalRow(
      k.map(java.lang.Long.valueOf).orNull,
      d.map(java.lang.Double.valueOf).orNull,
      s.map(UTF8String.fromString).orNull)
  }

  test("metadata-delete proof engine is SOUND over TYPED columns: " +
      "AllRows/NoRows verdicts never contradict brute force — BIGINT, " +
      "DOUBLE (NaN included), STRING (truncated bounds included)") {
    import org.apache.spark.sql.connector.expressions.Expressions
    import org.apache.spark.sql.connector.expressions.filter.{And, Or, Predicate}
    val rnd = new scala.util.Random(20260816L)
    def ref(c: String) = Expressions.column(c)

    // one comparison leaf: (predicate, SQL truth over one row)
    def leaf(): (Predicate, FRow => Boolean) = {
      val col = rnd.nextInt(3)
      val ops = Seq("=", "<=>", "<", "<=", ">", ">=", "<>")
      rnd.nextInt(10) match {
        case 0 =>
          val c = Seq("k", "d", "s")(col)
          (new Predicate("IS_NULL", Array(ref(c))), r => col match {
            case 0 => r.k.isEmpty; case 1 => r.d.isEmpty
            case 2 => r.s.isEmpty
          })
        case 1 =>
          val c = Seq("k", "d", "s")(col)
          (new Predicate("IS_NOT_NULL", Array(ref(c))), r => col match {
            case 0 => r.k.isDefined; case 1 => r.d.isDefined
            case 2 => r.s.isDefined
          })
        case 2 if col == 0 => // IN on the long column
          val vs = (0 to rnd.nextInt(2)).map(_ => rnd.nextInt(15) - 7L)
          (new Predicate("IN",
            Array[org.apache.spark.sql.connector.expressions.Expression](
              ref("k")) ++ vs.map(v =>
              vlit(java.lang.Long.valueOf(v), LongType))),
            r => r.k.exists(vs.contains))
        case _ =>
          val op = ops(rnd.nextInt(ops.length))
          col match {
            case 0 =>
              val v = rnd.nextInt(15) - 7L
              (new Predicate(op, Array(ref("k"),
                vlit(java.lang.Long.valueOf(v), LongType))),
                r => r.k.exists(x => opHolds(op,
                  java.lang.Long.compare(x, v))))
            case 1 =>
              var v = doublePool(rnd.nextInt(doublePool.length))
              if (v.isNaN) v = 2.0 // NaN literals refuse; keep truth simple
              (new Predicate(op, Array(ref("d"),
                vlit(java.lang.Double.valueOf(v), DoubleType))),
                r => r.d.exists(x => opHolds(op, dcmp(x, v))))
            case 2 =>
              val v = stringPool(rnd.nextInt(stringPool.length))
              (new Predicate(op, Array(ref("s"),
                vlit(UTF8String.fromString(v), StringType))),
                r => r.s.exists(x => opHolds(op,
                  UTF8String.fromString(x)
                    .compareTo(UTF8String.fromString(v)))))
          }
      }
    }
    def genPred(depth: Int): (Predicate, FRow => Boolean) =
      if (depth > 0 && rnd.nextInt(3) == 0) {
        val (a, ta) = genPred(depth - 1)
        val (b, tb) = genPred(depth - 1)
        if (rnd.nextBoolean()) (new And(a, b), r => ta(r) && tb(r))
        else (new Or(a, b), r => ta(r) || tb(r))
      } else leaf()

    var (alls, nones) = (0, 0)
    for (_ <- 1 to 4000) {
      val rows = (0 until rnd.nextInt(9)).map(_ => FRow(
        if (rnd.nextInt(5) == 0) None else Some(rnd.nextInt(13) - 6L),
        if (rnd.nextInt(5) == 0) None
        else Some(doublePool(rnd.nextInt(doublePool.length))),
        if (rnd.nextInt(5) == 0) None
        else Some(stringPool(rnd.nextInt(stringPool.length)))))
      val token = hook.statsTokenFor(fuzzSchema, rows.map(_.internal))
      val (p, truth) = genPred(2)
      val verdict = hook.deleteCoverage(rows.size.toLong, token,
        fuzzSchema, p)
      val truths = rows.map(truth)
      verdict match {
        case "AllRows" =>
          alls += 1
          assert(truths.forall(identity),
            s"UNSOUND AllRows: rows=$rows token=$token pred=$p")
        case "NoRows" =>
          nones += 1
          assert(!truths.exists(identity),
            s"UNSOUND NoRows: rows=$rows token=$token pred=$p")
        case "SomeRows" => () // always safe (falls back to COW)
      }
    }
    // the proof engine must actually PROVE things, not just refuse
    assert(alls > 100 && nones > 100,
      s"proof engine too timid to be useful: alls=$alls nones=$nones")
    // schema evolution: a column beyond the file's width is KNOWN
    // all-null — IS_NULL proves AllRows, comparisons prove NoRows
    val evoSchema = StructType(Seq(StructField("k", LongType),
      StructField("w", LongType)))
    assert(hook.deleteCoverage(5L, "l:1:3:0", evoSchema,
      new Predicate("IS_NULL", Array(Expressions.column("w"))))
      == "AllRows")
    assert(hook.deleteCoverage(5L, "l:1:3:0", evoSchema,
      new Predicate("<", Array(Expressions.column("w"),
        vlit(java.lang.Long.valueOf(100L), LongType)))) == "NoRows")
    // legacy pre-typed tokens still parse as BIGINT stats
    assert(hook.deleteCoverage(4L, "N:4", StructType(Seq(
      StructField("k", LongType))),
      new Predicate("IS_NULL", Array(Expressions.column("k"))))
      == "AllRows")
  }

  private def opHolds(op: String, cmp: Int): Boolean = op match {
    case "=" | "<=>" => cmp == 0
    case "<" => cmp < 0
    case "<=" => cmp <= 0
    case ">" => cmp > 0
    case ">=" => cmp >= 0
    case "<>" => cmp != 0
  }

  test("typed stats pruning is SOUND: a file containing a matching " +
      "row is never pruned — and the pruner is not vacuously timid") {
    import org.apache.spark.sql.{sources => sf}
    val rnd = new scala.util.Random(42L)
    var (kept, pruned) = (0, 0)
    for (_ <- 1 to 3000) {
      val rows = (0 until 1 + rnd.nextInt(8)).map(_ => FRow(
        if (rnd.nextInt(5) == 0) None else Some(rnd.nextInt(13) - 6L),
        if (rnd.nextInt(5) == 0) None
        else Some(doublePool(rnd.nextInt(doublePool.length))),
        if (rnd.nextInt(5) == 0) None
        else Some(stringPool(rnd.nextInt(stringPool.length)))))
      val token = hook.statsTokenFor(fuzzSchema, rows.map(_.internal))
      val (filter, truth): (sf.Filter, FRow => Boolean) =
        rnd.nextInt(3) match {
          case 0 =>
            val v = rnd.nextInt(15) - 7L
            rnd.nextInt(4) match {
              case 0 => (sf.EqualTo("k", v), r => r.k.contains(v))
              case 1 => (sf.GreaterThan("k", v), r => r.k.exists(_ > v))
              case 2 => (sf.LessThan("k", v), r => r.k.exists(_ < v))
              case 3 => (sf.In("k", Array(v, v + 3)),
                r => r.k.exists(x => x == v || x == v + 3))
            }
          case 1 =>
            var v = doublePool(rnd.nextInt(doublePool.length))
            if (v.isNaN) v = 1.5
            rnd.nextInt(3) match {
              case 0 => (sf.EqualTo("d", v),
                r => r.d.exists(x => dcmp(x, v) == 0))
              case 1 => (sf.GreaterThanOrEqual("d", v),
                r => r.d.exists(x => dcmp(x, v) >= 0))
              case 2 => (sf.LessThanOrEqual("d", v),
                r => r.d.exists(x => dcmp(x, v) <= 0))
            }
          case 2 =>
            val v = stringPool(rnd.nextInt(stringPool.length))
            def c(x: String) = UTF8String.fromString(x)
              .compareTo(UTF8String.fromString(v))
            rnd.nextInt(3) match {
              case 0 => (sf.EqualTo("s", v), r => r.s.exists(c(_) == 0))
              case 1 => (sf.GreaterThan("s", v), r => r.s.exists(c(_) > 0))
              case 2 => (sf.LessThan("s", v), r => r.s.exists(c(_) < 0))
            }
        }
      val keep = hook.mightMatch(rows.size.toLong, token, fuzzSchema,
        filter)
      val anyMatch = rows.exists(truth)
      assert(!anyMatch || keep,
        s"UNSOUND prune: rows=$rows token=$token filter=$filter")
      if (keep) kept += 1 else pruned += 1
    }
    assert(pruned > 200,
      s"pruner never prunes — vacuously sound: kept=$kept pruned=$pruned")
  }

  test("replay offsets round-trip through their checkpoint JSON") {
    val gen = Gen.chooseNum(0, Int.MaxValue)
    Gen.listOfN(200, gen).sample.get.foreach { i =>
      val off = graft.sources.ReplaySourceTestHook.offset(i)
      assert(graft.sources.ReplaySourceTestHook
        .deserialize(off.json()) == off)
    }
  }
}
