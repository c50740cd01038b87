package graft

import graft.expressions.Md5Prefix64
import graft.sources.ShardedLog
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** Property-based invariants (SURVEY §5): offset codec round-trip, hash
  * range bounds, shard-slice partition coverage. Raw ScalaCheck (no
  * scalatestplus bridge in the offline dependency set). */
class PropertySpec extends AnyFunSuite {

  private def check(name: String, p: Prop, n: Int = 200): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(n), p)
    assert(res.passed, s"$name: $res")
  }

  private val shardMapGen: Gen[Map[String, ShardedLog.ShardPos]] =
    Gen.mapOf(for {
      i <- Gen.choose(0, 9999)
      b <- Gen.choose(0L, Long.MaxValue / 2)
      n <- Gen.choose(0L, Long.MaxValue / 2)
    } yield s"shard-$i.log" -> ShardedLog.ShardPos(b, n))

  test("offset JSON round-trips for arbitrary shard maps") {
    check("offset-roundtrip", Prop.forAll(shardMapGen) { m =>
      ShardedLog.parseOffsetJson(ShardedLog.offsetJson(m)) == m
    })
  }

  test("v2 framing round-trips arbitrary payload bytes with zero inflation") {
    // the reference treats records as opaque bytes (kinesis_consumer.h:65-69);
    // length-prefixed framing must survive any partition key / raw byte
    // payload (nulls included) at exactly header + payload size on disk,
    // and persist the put-time arrival timestamp for replay determinism.
    import graft.sources.{ShardedLogPartition, ShardedLogReaderFactory, ShardedLogSlice}
    val pkGen = Gen.option(Gen.listOf(Gen.oneOf(
      Gen.alphaNumChar, Gen.oneOf('\t', '\n', '\r', '\\', '"', ' ', 'é')))
      .map(_.mkString))
    val dataGen = Gen.option(
      Gen.containerOf[Array, Byte](Gen.choose(Byte.MinValue, Byte.MaxValue)))
    check("framing-roundtrip", Prop.forAll(pkGen, dataGen) { (pkOpt, dataOpt) =>
      val dir = java.nio.file.Files.createTempDirectory("framing").toString
      val pk = pkOpt.orNull
      val data = dataOpt.orNull
      ShardedLog.appendBytes(dir, 0, Seq((pk, data)),
        arrivalMillis = 1234567890123L)
      val f = new java.io.File(dir, "shard-0.log")
      val pkBytes = if (pk == null) 0 else pk.getBytes("UTF-8").length
      val dataBytes = if (data == null) 0 else data.length
      val pos = ShardedLog.scanForward(f, 0L, Long.MaxValue)
      // read back through the actual partition reader (no Spark session)
      val reader = ShardedLogReaderFactory.createReader(
        ShardedLogPartition(Seq(ShardedLogSlice(dir, "shard-0.log", 0L, f.length(), 0L))))
      val ok = reader.next()
      val row = reader.get()
      val gotPk = if (row.isNullAt(2)) null else row.getUTF8String(2).toString
      val gotData = if (row.isNullAt(3)) null else row.getBinary(3)
      val more = reader.next()
      reader.close()
      f.length() == ShardedLog.HEADER + 16L + pkBytes + dataBytes &&
        pos == ShardedLog.ShardPos(f.length(), 1L) &&
        ok && !more &&
        row.getLong(4) == 1234567890123L * 1000L &&
        gotPk == pk &&
        (gotData == null) == (data == null) &&
        (data == null || java.util.Arrays.equals(gotData, data))
    })
  }

  /** The shard-log walker of format v3 before the scan read buffer
    * windows: one `DataInputStream` call per field. Kept as the reference
    * for [[ShardedLog.scanForward]]. */
  private def referenceScan(file: java.io.File, fromBytes: Long,
                            maxRecs: Long): ShardedLog.ShardPos = {
    val len = file.length()
    if (len == 0L || maxRecs <= 0) return ShardedLog.ShardPos(fromBytes, 0L)
    val start = if (fromBytes == 0L) ShardedLog.HEADER else fromBytes
    if (start >= len) return ShardedLog.ShardPos(start, 0L)
    val din = new java.io.DataInputStream(
      new java.io.BufferedInputStream(new java.io.FileInputStream(file), 1 << 16))
    try {
      din.skipNBytes(start)
      var pos = start
      var recs = 0L
      var ok = true
      while (ok && recs < maxRecs && pos + 12 <= len) {
        din.readLong()
        val pkLen = din.readInt()
        val pkSkip = math.max(pkLen, 0)
        if (pkLen < -1 || pos + 12 + pkSkip + 4 > len) ok = false
        else {
          din.skipNBytes(pkSkip)
          val dataLen = din.readInt()
          val dSkip = math.max(dataLen, 0)
          val end = pos + 12 + pkSkip + 4 + dSkip
          if (dataLen < -1 || end > len) ok = false
          else { din.skipNBytes(dSkip); pos = end; recs += 1 }
        }
      }
      ShardedLog.ShardPos(pos, recs)
    } finally din.close()
  }

  test("buffer-window scan and reader equal the per-field walker across window edges") {
    import graft.sources.{ShardedLogPartition, ShardedLogReaderFactory, ShardedLogSlice}
    // field sizes straddle the 64 KiB window, and one exceeds it (200 KiB);
    // None is a null field, Some(0) an empty one
    val sizeGen = Gen.frequency(
      4 -> Gen.choose(0, 64), 3 -> Gen.choose(1000, 30000), 1 -> Gen.const(200 * 1024))
    val fieldGen = Gen.frequency(1 -> Gen.const(Option.empty[Int]), 6 -> sizeGen.map(Some(_)))
    val recGen = for (pk <- fieldGen; d <- fieldGen) yield (pk, d)
    // the last record stays small so that every byte of it can be cut
    val lastGen = for {
      pk <- Gen.choose(0, 40); d <- Gen.option(Gen.choose(0, 1500))
    } yield (Option(pk), d)
    val logGen = for {
      n <- Gen.choose(0, 10); recs <- Gen.listOfN(n, recGen); last <- lastGen
      corrupt <- Gen.frequency(3 -> Gen.const(None),
        1 -> Gen.zip(Gen.choose(0, n), Gen.oneOf(true, false)).map(Some(_)))
    } yield (recs :+ last, corrupt)
    check("window-vs-reference", Prop.forAll(logGen) { case (spec, corrupt) =>
      val recs = spec.zipWithIndex.map { case ((pk, d), k) =>
        (pk.map(m => Iterator.tabulate(m)(j => ('a' + (j + k) % 26).toChar).mkString).orNull,
          d.map(m => Array.tabulate[Byte](m)(j => (j * 31 + k).toByte)).orNull,
          1700000000000L + k)
      }
      // framed by hand so that each record has its own arrival time and
      // one may carry a corrupt length (−5) in its key or data field
      val bos = new java.io.ByteArrayOutputStream()
      val out = new java.io.DataOutputStream(bos)
      out.write(ShardedLog.MAGIC)
      recs.zipWithIndex.foreach { case ((pk, d, ts), k) =>
        corrupt match {
          case Some((`k`, inKey)) =>
            out.writeLong(ts)
            if (inKey) out.writeInt(-5) else { out.writeInt(-1); out.writeInt(-5) }
          case _ => ShardedLog.frameRecord(out, ts, pk, d)
        }
      }
      out.flush()
      val dir = java.nio.file.Files.createTempDirectory("window")
      val f = dir.resolve("shard-0.log").toFile
      java.nio.file.Files.write(f.toPath, bos.toByteArray)
      try {
        val full = referenceScan(f, 0L, Long.MaxValue)
        val n = full.recs
        // record starts, from the reference walker
        val starts = (0L to n).map(k => referenceScan(f, 0L, k).bytes)
          .map(b => if (b == 0L) ShardedLog.HEADER else b)
        val scans = for {
          from <- 0L +: starts
          max <- Seq(1L, 7L, n, Long.MaxValue)
        } yield (from, max)
        val scansAgree = scans.forall { case (from, max) =>
          ShardedLog.scanForward(f, from, max) == referenceScan(f, from, max)
        }
        val stopsAtCorrupt = corrupt.forall { case (k, _) => n == k }
        // the reader returns exactly the appended rows: one slice from mid
        // file, and the whole log as a partition of several slices
        def read(slices: Seq[ShardedLogSlice]) = {
          val r = ShardedLogReaderFactory.createReader(ShardedLogPartition(slices))
          val rows = Iterator.continually(r.next()).takeWhile(identity).map { _ =>
            val row = r.get()
            (row.getLong(1),
              if (row.isNullAt(2)) null else row.getUTF8String(2).toString,
              if (row.isNullAt(3)) null else row.getBinary(3).toSeq,
              row.getLong(4))
          }.toList
          r.close(); rows
        }
        val want = recs.take(n.toInt).zipWithIndex.map { case ((pk, d, ts), k) =>
          (k.toLong, pk, if (d == null) null else d.toSeq, ts * 1000L)
        }
        val mid = (n / 2).toInt
        val cuts = Seq(0L, starts(mid), starts((n * 3 / 4).toInt), full.bytes).distinct
        val sliced = cuts.zip(cuts.tail).zipWithIndex.map { case ((a, b), i) =>
          ShardedLogSlice(dir.toString, "shard-0.log", a,
            b, if (i == 0) 0L else starts.indexOf(a).toLong)
        }
        val readsAgree =
          read(Seq(ShardedLogSlice(dir.toString, "shard-0.log", starts(mid),
            full.bytes, mid.toLong))) == want.drop(mid) &&
            read(sliced) == want
        // cutting the file anywhere inside its last record excludes it
        val cutsExclude = corrupt.nonEmpty || n == 0 || {
          val ch = java.nio.channels.FileChannel.open(f.toPath,
            java.nio.file.StandardOpenOption.WRITE)
          try (full.bytes - 1 to starts(n.toInt - 1) by -1).forall { len =>
            ch.truncate(len)
            ShardedLog.scanForward(f, 0L, Long.MaxValue) ==
              ShardedLog.ShardPos(starts(n.toInt - 1), n - 1)
          } finally ch.close()
        }
        scansAgree && stopsAtCorrupt && readsAgree && cutsExclude
      } finally {
        f.delete(); java.nio.file.Files.delete(dir)
      }
    }, n = 60)
  }

  test("legacy bare-number offsets and foreign log framing fail fast") {
    // a bare-number checkpoint could only have been written against the
    // v1 escaped-text log format; "resolving" it by walking a binary log
    // would silently yield garbage positions — so it must refuse loudly
    val e = intercept[IllegalStateException](
      ShardedLog.parseOffsetJson("""{"shard-0.log":7,"shard-1.log":[30,2]}"""))
    assert(e.getMessage.contains("bare-number"))
    assert(ShardedLog.parseOffsetJson("""{"shard-1.log":[30,2]}""") ===
      Map("shard-1.log" -> ShardedLog.ShardPos(30L, 2L)))
    // a shard file in any other framing (here: the v1 escaped-text form)
    // fails fast at the first scan, like the catalog version header
    val dir = java.nio.file.Files.createTempDirectory("badframing")
    val f = dir.resolve("shard-0.log")
    java.nio.file.Files.writeString(f, "k1\tv1\t1234567890123\nk2\tv2\t1234567890124\n")
    val e2 = intercept[IllegalStateException](
      ShardedLog.scanForward(f.toFile, 0L, Long.MaxValue))
    assert(e2.getMessage.contains("GRAFTLG3"))
  }

  test("subword stats equal an index-free greedy reference for arbitrary text") {
    import graft.expressions.SubwordStats
    // words over the corpus alphabet PLUS letters outside it (p/q/v/x/z
    // force OOV paths) and lengths straddling MAX_WORD
    val wordGen = for {
      n <- Gen.choose(0, SubwordStats.MAX_WORD + 4)
      cs <- Gen.listOfN(n, Gen.alphaLowerChar)
    } yield cs.mkString
    val textGen = Gen.listOf(wordGen).map(_.mkString(" "))
    check("subwords-greedy",
      Prop.forAll(textGen) { text =>
        // independent reference: the naive full-vocabulary max scan the
        // first-char-indexed production loop must agree with exactly
        var nw = 0L; var ns = 0L; var no = 0L
        text.split(" ", -1).foreach { w =>
          nw += 1
          if (w.length > SubwordStats.MAX_WORD) { ns += 1; no += 1 }
          else {
            var pos = 0; var cnt = 0L; var oov = false
            while (pos < w.length && !oov) {
              val best = SubwordStats.VOCAB
                .filter(p => w.startsWith(p, pos)).map(_.length)
                .foldLeft(0)(math.max)
              if (best == 0) oov = true else { pos += best; cnt += 1 }
            }
            if (oov) { ns += 1; no += 1 } else ns += cnt
          }
        }
        SubwordStats.compute(UTF8String.fromString(text)).toLongArray.toSeq ===
          Seq(nw, ns, no)
      })
  }

  test("md5 prefix hash stays within [0, 16^n) for any string") {
    check("md5h-range",
      Prop.forAll(Gen.asciiPrintableStr, Gen.choose(1, 15)) { (s, n) =>
        val h = Md5Prefix64.compute(UTF8String.fromString(s), n)
        h >= 0L && h < (1L << (4 * n))
      })
  }

  test("span hashes equal an independent fold for arbitrary strings and widths") {
    check("spanhashes-fold",
      Prop.forAll(Gen.asciiPrintableStr, Gen.choose(1, 12)) { (s, k) =>
        val got = graft.expressions.ShingleHashes
          .computeK(UTF8String.fromString(s), k).toLongArray.toSeq
        // independent recomputation: JVM split semantics with limit -1
        // (trailing empties kept), hex7 per token, fold 0→(a·65599+h)%P
        val toks = s.split(" ", -1)
        val th = toks.map(t =>
          graft.expressions.Md5Prefix64.compute(UTF8String.fromString(t), 7))
        val want =
          if (th.length < k) Seq.empty[Long]
          else (0 to th.length - k).map(i =>
            (i until i + k).foldLeft(0L)((a, j) =>
              (a * 65599L + th(j)) % 1000000007L))
        got == want &&
          // k=3 reproduces the shingle identity on the same input
          (k != 3 || got == graft.expressions.ShingleHashes
            .compute(UTF8String.fromString(s)).toLongArray.toSeq)
      })
  }

  test("count(DISTINCT rewrite never disturbs quoted content, for arbitrary nasty literals") {
    import graft.streaming.KinesisEngine.rewriteCountDistinct
    // A literal of any of the three SQL quote kinds whose CONTENT is built
    // from the scanner's own hazard alphabet — parens, commas, the OTHER
    // quote characters, doubled own-quotes, and the literal text
    // "count(distinct x)" itself.
    val litGen: Gen[String] = for {
      q <- Gen.oneOf('\'', '"', '`')
      // backslash escapes are lexer syntax only inside '…'/"…" (Spark's
      // default mode); in backticks a backslash is plain content — but a
      // trailing \` would end the literal, so there only the bare char.
      escTok = if (q == '`') Gen.const("\\")
               else Gen.oneOf(s"\\$q", "\\\\", "\\z")
      toks <- Gen.listOf(Gen.oneOf(
        Gen.oneOf("(", ")", ",", "((", "),", "count(distinct x)", "a b",
                  s"$q$q"), // doubled own-quote = escaped content
        escTok,
        Gen.oneOf("'", "\"", "`").suchThat(_ != q.toString),
        Gen.alphaNumStr.map(_.take(6))))
    } yield q + toks.mkString + q
    // (a) a hazard literal in the DISTINCT argument: the rewrite must be
    // exactly the count→approx substitution, literal untouched
    check("rcd-arg-literal", Prop.forAll(litGen) { lit =>
      rewriteCountDistinct(s"SELECT count(DISTINCT concat(u, $lit)) FROM t") ==
        s"SELECT approx_count_distinct(concat(u, $lit)) FROM t"
    })
    // (b) the same literal elsewhere in the statement, no real
    // count(DISTINCT present: the statement must come back verbatim even
    // when the literal's content spells count(distinct …)
    check("rcd-bystander-literal", Prop.forAll(litGen) { lit =>
      val sql = s"SELECT $lit AS x, count(*) AS n FROM t"
      rewriteCountDistinct(sql) == sql
    })
    // (c) multi-column distinct with a hazard literal: comma splitting
    // must see only the ONE top-level comma
    check("rcd-multi-literal", Prop.forAll(litGen) { lit =>
      rewriteCountDistinct(s"SELECT count(DISTINCT a, $lit) FROM t") ==
        s"SELECT approx_count_distinct(struct(a, $lit)) FROM t"
    })
  }

  test("SQL segmenting reassembles any input and shields literal content from rewrites") {
    import graft.streaming.KinesisEngine.{sqlSegments, mapOutsideLiterals}
    // (a) lossless: segments always concatenate back to the input, for
    // ARBITRARY text — including unterminated quotes/comments (they extend
    // to end-of-string, but must not drop or duplicate a byte)
    val sqlishGen = Gen.listOf(Gen.oneOf(
      "'", "\"", "--", "/*", "*/", "\n", "\\'", "''", "(", ")", ",",
      " SELECT ", "x", "pipeline_kinesis.seqnums")).map(_.mkString)
    check("segments-lossless", Prop.forAll(sqlishGen) { s =>
      sqlSegments(s).map(_._1).mkString == s
    })
    check("segments-lossless-arbitrary", Prop.forAll(Gen.asciiPrintableStr) { s =>
      sqlSegments(s).map(_._1).mkString == s
    })
    // (b) a WELL-FORMED literal's content never reaches the rewrite
    // function, whatever hazard text it carries
    val litGen = for {
      q <- Gen.oneOf("'", "\"")
      toks <- Gen.listOf(Gen.oneOf("pipeline_kinesis.seqnums", "--", "/*",
        "x", " ", s"$q$q", "\\" + q))
    } yield q + toks.mkString + q
    check("literal-shielded", Prop.forAll(litGen, litGen) { (l1, l2) =>
      val sql = s"SELECT $l1 AS a, col FROM t WHERE b <> $l2"
      mapOutsideLiterals(sql)(_.replaceAll(
        "(?i)pipeline_kinesis\\.seqnums", "graft_seqnums")) == sql &&
      mapOutsideLiterals(sql)(_.toUpperCase) ==
        s"SELECT $l1 AS A, COL FROM T WHERE B <> $l2"
    })
  }

  test("INSERT VALUES parsing round-trips arbitrary typed rows") {
    import graft.streaming.KinesisEngine.{ValTok, valueRows}
    // A value as the INSERT front-end sees it: SQL-encoded text plus the
    // decoded form insertIntoStream reconstructs from the ValTok groups.
    sealed trait V { def enc: String; def dec: Option[String] }
    case class S(raw: String) extends V {
      def enc = "'" + raw.replace("'", "''") + "'"
      def dec = Some(raw)
    }
    case class N(s: String) extends V { def enc = s; def dec = Some(s) }
    case object Null extends V { def enc = "NULL"; def dec = None }
    case class B(b: Boolean) extends V {
      def enc = if (b) "TRUE" else "FALSE"; def dec = Some(enc.toLowerCase)
    }
    val vGen: Gen[V] = Gen.oneOf(
      Gen.listOf(Gen.oneOf("(", ")", ",", "'", "NULL", "a b", "--", "x1"))
        .map(ts => S(ts.mkString)),     // strings from the hazard alphabet
      Gen.oneOf(Gen.choose(-9999, 9999).map(n => N(n.toString)),
                Gen.choose(-999, 999).map(n => N(s"$n.25"))),
      Gen.const(Null),
      Gen.oneOf(B(true), B(false)))
    val rowsGen = Gen.nonEmptyListOf(Gen.nonEmptyListOf(vGen))
    check("insert-values-roundtrip", Prop.forAll(rowsGen) { rows =>
      val tail = rows.map(_.map(_.enc).mkString("(", ", ", ")")).mkString(", ")
      val parsed = valueRows(tail).map { r =>
        ValTok.findAllMatchIn(r).map { m =>
          if (m.group(3) != null) None
          else if (m.group(2) != null) Some(m.group(2))
          else if (m.group(4) != null) Some(m.group(4).toLowerCase)
          else Some(m.group(1).replace("''", "'"))
        }.toSeq
      }
      parsed == rows.map(_.map(_.dec))
    })
  }

  test("consecutive offset ranges partition the log: each record planned exactly once") {
    // Model of planInputPartitions over successive latestOffset values:
    // slices [prev, next) must tile [0, total) with no gap or overlap.
    val stepsGen = for {
      total <- Gen.choose(0L, 10000L)
      cuts <- Gen.listOf(Gen.choose(0L, total))
    } yield (total, (cuts :+ total).sorted)
    check("slice-coverage", Prop.forAll(stepsGen) { case (total, cuts) =>
      var prev = 0L
      var covered = 0L
      val monotone = cuts.forall { next =>
        val ok = next >= prev; covered += next - prev; prev = next; ok
      }
      monotone && covered == total
    })
  }

  test("native vector expressions equal independent folds for arbitrary 64-dim vectors") {
    // The embeddings-table bit-exactness specs exercise only the test
    // corpus's value range; this extends the same contract to arbitrary
    // finite floats (negatives, near-zero, 1e6-scale) via an independent
    // left-to-right fold. Bit-pattern compare so a canonical-NaN from a
    // zero-norm input must match on both sides too.
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import graft.expressions.{CosineSimilarity, PqDists}
    val vecGen: Gen[Array[Float]] =
      Gen.containerOfN[Array, Float](64, Gen.chooseNum(-1e6f, 1e6f))
    def bits(d: Double) = java.lang.Double.doubleToLongBits(d)
    check("vector-exprs", Prop.forAll(vecGen, vecGen) { (a, b) =>
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < 64) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      val expCos = dot / math.sqrt(na * nb)
      val cosF = CosineSimilarity.compute(
        new GenericArrayData(a), new GenericArrayData(b))
      val cosD = CosineSimilarity.computeD(
        new GenericArrayData(a.map(_.toDouble)),
        new GenericArrayData(b.map(_.toDouble)))
      val pq = PqDists.compute(new GenericArrayData(a), new GenericArrayData(b))
      val pqOk = (0 until 8).forall { j =>
        var d = 0.0
        var k = 8 * j
        while (k < 8 * j + 8) {
          val dlt = a(k).toDouble - b(k).toDouble; d += dlt * dlt; k += 1
        }
        bits(pq.getDouble(j)) == bits(d)
      }
      bits(cosF) == bits(expCos) && bits(cosD) == bits(expCos) && pqOk
    })
  }

  test("PPM/WAV decoders match independent folds for arbitrary payloads; truncations never decode") {
    import graft.operators.Multimodal
    val ppmGen = for {
      w <- Gen.choose(1, 8); h <- Gen.choose(1, 8)
      px <- Gen.containerOfN[Array, Byte](w * h * 3,
        Gen.choose(Byte.MinValue, Byte.MaxValue))
    } yield (w, h, px)
    check("ppm-decode", Prop.forAll(ppmGen) { case (w, h, px) =>
      val bytes = s"P6\n$w $h\n255\n".getBytes("US-ASCII") ++ px
      val decoded = Multimodal.decodePpm(bytes)
      val want = (0 until 3).map(c =>
        (0 until w * h).map(p => (px(p * 3 + c) & 0xff).toDouble).sum / (w * h * 255.0))
      // a truncated raster must refuse to decode, not mis-read
      val truncated = Multimodal.decodePpm(bytes.dropRight(1))
      decoded.exists { case (dw, dh, means) =>
        dw == w && dh == h && means.toSeq == want
      } && truncated.isEmpty
    })
    val wavGen = for {
      n <- Gen.choose(1, 64)
      rate <- Gen.oneOf(8000, 16000, 44100)
      samples <- Gen.listOfN(n, Gen.choose(Short.MinValue, Short.MaxValue))
    } yield (rate, samples)
    check("wav-decode", Prop.forAll(wavGen) { case (rate, samples) =>
      val dataLen = samples.length * 2
      val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
        .put("WAVE".getBytes("US-ASCII"))
        .put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1).putShort(1).putInt(rate)
        .putInt(rate * 2).putShort(2).putShort(16)
        .put("data".getBytes("US-ASCII")).putInt(dataLen)
      samples.foreach(bb.putShort)
      val norm = samples.map(_ / 32768.0)
      val wantRms = math.sqrt(norm.map(v => v * v).sum / samples.length)
      val wantPeak = norm.map(math.abs).max
      Multimodal.decodeWav(bb.array()).exists { case (r, ch, frames, feats) =>
        r == rate && ch == 1 && frames == samples.length &&
          math.abs(feats(0) - wantRms) < 1e-12 && feats(1) == wantPeak
      }
    })
  }

  test("graft_pq_encode argmin keys equal Spark's own Round semantics for arbitrary inputs") {
    // The map-only encode replicates round(d, 6) INSIDE the expression
    // (PqEncode.round6) instead of composing Spark's Round — the one
    // place cross-engine hash parity rests on a reimplementation. Pin it
    // against the real thing: codes from PqEncode must equal an argmin
    // computed with Spark's literal Round expression, for arbitrary
    // finite vectors and codebooks (the table-level spec only exercises
    // the corpus's value range).
    import org.apache.spark.sql.catalyst.expressions.{Literal, Round}
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.catalyst.InternalRow
    import graft.expressions.PqEncode
    val vecGen: Gen[Array[Float]] =
      Gen.containerOfN[Array, Float](64, Gen.chooseNum(-1e3f, 1e3f))
    val cbGen: Gen[List[Array[Float]]] =
      Gen.listOfN(16, vecGen).map(_.toList)
    def sparkRound6(d: Double): Double =
      Round(Literal(d), Literal(6)).eval(InternalRow.empty).asInstanceOf[Double]
    check("pq-encode-round", Prop.forAll(vecGen, cbGen) { (v, cb) =>
      val centsRows = cb.zipWithIndex.map { case (c, i) =>
        InternalRow(i.toLong, new GenericArrayData(c))
      }
      val got = PqEncode.compute(
        new GenericArrayData(v),
        new GenericArrayData(centsRows.toArray[Any]), isDouble = false)
      (0 until 8).forall { j =>
        val want = cb.zipWithIndex.map { case (c, cid) =>
          var d = 0.0
          var k = 8 * j
          while (k < 8 * j + 8) {
            val dlt = v(k).toDouble - c(k).toDouble; d += dlt * dlt; k += 1
          }
          (math.floor(sparkRound6(d) * 1e6 + 0.5).toLong * 16L + cid, cid)
        }.minBy(_._1)._2
        got.getLong(j) == want.toLong
      }
    })
  }

  test("graft_pq_encode edge regimes: NaN encodes, overflow-scale distances refuse (r16 advice)") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.catalyst.InternalRow
    import graft.expressions.PqEncode
    def cents(cb: Seq[Array[Float]]): GenericArrayData =
      new GenericArrayData(cb.zipWithIndex.map { case (c, i) =>
        InternalRow(i.toLong, new GenericArrayData(c)): Any
      }.toArray)
    val zero = Array.fill(64)(0f)
    val one = Array.fill(64)(1f)
    // NaN coordinate: the replaced Round-based two-stage encode passed
    // NaN through (Spark's cast(NaN as long) = 0), producing codes — the
    // native encode must too, never throw (BigDecimal.valueOf(NaN) would).
    val nanVec = zero.clone(); nanVec(0) = Float.NaN
    val gotNan = PqEncode.compute(
      new GenericArrayData(nanVec), cents(Seq(zero, one)), isDouble = false)
    assert(gotNan.numElements() == 8, "NaN vector must still encode")
    // NaN key collapses to bare cid, so centroid 0 wins subspace 0
    assert(gotNan.getLong(0) == 0L)
    // finite subspace distances ≥ ~5.8e11 would overflow the packed
    // Long key (key = dist·1e6·16 + cid) and flip the argmin sign —
    // the contract check must refuse loudly instead
    val huge = Array.fill(64)(3e8f) // d = 8·(3e8)² ≈ 7.2e17 per subspace
    val err = intercept[IllegalArgumentException] {
      PqEncode.compute(
        new GenericArrayData(huge), cents(Seq(zero)), isDouble = false)
    }
    assert(err.getMessage.contains("overflow"))
    // +Infinity coordinate rides the same refusal path
    val infVec = zero.clone(); infVec(3) = Float.PositiveInfinity
    intercept[IllegalArgumentException] {
      PqEncode.compute(
        new GenericArrayData(infVec), cents(Seq(zero)), isDouble = false)
    }
  }

  test("WAV fmt chunk declaring size < 16 refuses to decode (r16 advice)") {
    import graft.operators.Multimodal
    // a well-formed 1-sample PCM file, then the same bytes with the fmt
    // chunk SIZE field corrupted to 8: the walk would previously read the
    // following bytes as channels/rate/bits and could accept garbage
    val dataLen = 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1).putInt(8000)
      .putInt(16000).putShort(2).putShort(16)
      .put("data".getBytes("US-ASCII")).putInt(dataLen)
      .putShort(1234)
    val good = bb.array()
    assert(Multimodal.decodeWav(good).isDefined)
    val bad = good.clone()
    bad(16) = 8 // fmt size LE32 low byte: 16 → 8
    // size=8 walks to offset 12+8+8=28 mid-fmt; whatever the walk finds
    // there, the fmt fields must NOT have been accepted from a chunk
    // that declared fewer than 16 bytes
    assert(Multimodal.decodeWav(bad).isEmpty)
  }
}
