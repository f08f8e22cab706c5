package graft

import graft.engine.{CubicSpline, Dedup, Impute, Unpivot}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import java.sql.Timestamp

/** Property-based invariants (SURVEY.md §5: the reference has none; we add
  * the ones its unit tests imply — melt/pivot roundtrip, dedup cardinality,
  * imputation shape preservation, spline knot interpolation).
  *
  * Generators are driven directly with deterministic seeds (the
  * scalatest-scalacheck bridge isn't in the offline dependency cache). */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  /** Deterministic sample stream from a generator. */
  private def forAll[A](gen: Gen[A], n: Int = 20)(body: A => Unit): Unit =
    (1 to n).foreach { i =>
      gen.apply(Gen.Parameters.default, Seed(42L + i)).foreach(body)
    }

  private def whenever(cond: Boolean)(body: => Unit): Unit =
    if (cond) body

  test("property: spline passes through its knots exactly") {
    val knotsGen = for {
      n <- Gen.choose(3, 12)
      xs <- Gen.listOfN(n, Gen.choose(-1000.0, 1000.0))
      ys <- Gen.listOfN(n, Gen.choose(-100.0, 100.0))
    } yield (xs.distinct.sorted, ys)
    forAll(knotsGen) { case (xs, ys0) =>
      whenever(xs.length >= 3) {
        val ys = ys0.take(xs.length).padTo(xs.length, 0.0)
        val sp = CubicSpline(xs.toArray, ys.toArray)
        xs.indices.foreach { i =>
          sp(xs(i)) shouldBe (ys(i) +- math.max(1e-8, math.abs(ys(i)) * 1e-9))
        }
      }
    }
  }

  test("property: keepLast emits one row per key, the max-order one") {
    val rowsGen = Gen.nonEmptyListOf(for {
      k <- Gen.choose(0, 5)
      seq <- Gen.choose(0, 100)
      v <- Gen.choose(-1e6, 1e6)
    } yield (s"k$k", seq, v))
    forAll(rowsGen) { rows =>
      // make (key, seq) unique so "the max" is well-defined
      val uniq = rows.groupBy(r => (r._1, r._2)).map(_._2.head).toSeq
      val df = uniq.toDF("k", "seq", "v").repartition(5)
      val out = Dedup.keepLast(df, Seq(col("k")), Seq(col("seq")))
        .collect().map(r => r.getString(0) -> (r.getInt(1), r.getDouble(2))).toMap
      val expected = uniq.groupBy(_._1).map { case (k, g) =>
        val m = g.maxBy(_._2); k -> (m._2, m._3)
      }
      out shouldBe expected
    }
  }

  test("property: melt(pivot(events)) with 0-based hours == direct hourly sums") {
    val evGen = Gen.nonEmptyListOf(for {
      day <- Gen.choose(1, 3)
      hour <- Gen.choose(0, 23)
      v <- Gen.choose(0.0, 100.0)
    } yield (Timestamp.valueOf(f"2024-02-0$day $hour%02d:15:00"), "g", v))
    forAll(evGen) { evs =>
      val df = evs.toDF("ts", "k", "v")
      val wide = Unpivot.pivotByHour(df, col("ts"), col("k"), col("v"))
      val melted = Unpivot.meltHours(wide, Seq("ymd", "grp"), Unpivot.hourNames)
        .filter(col("generation").isNotNull)
        .select(Unpivot.tsZeroBased(col("ymd"), col("hour_col")).as("b"),
          round(col("generation"), 6).as("t"))
        .collect().map(r => r.getTimestamp(0) -> r.getDouble(1)).toMap
      val direct = df.groupBy(date_trunc("hour", col("ts")).as("b"))
        .agg(round(sum("v"), 6).as("t"))
        .collect().map(r => r.getTimestamp(0) -> r.getDouble(1)).toMap
      melted shouldBe direct
    }
  }

  test("property: winnow guarantees a shared fingerprint for shared substrings >= k+w-1") {
    val k = 8; val w = 4
    val pieceGen = Gen.listOfN(30, Gen.alphaLowerChar).map(_.mkString)
    val sharedGen = Gen.listOfN(k + w - 1, Gen.alphaLowerChar).map(_.mkString)
    forAll(Gen.zip(pieceGen, pieceGen, sharedGen, pieceGen, pieceGen)) {
      case (a1, a2, shared, b1, b2) =>
        val docA = a1 + shared + a2
        val docB = b1 + shared + b2
        val fpsA = graft.engine.TextOps.winnow(docA, k, w).toSet
        val fpsB = graft.engine.TextOps.winnow(docB, k, w).toSet
        fpsA.intersect(fpsB) should not be empty
    }
  }

  test("property: historicalFill preserves row count and non-null values") {
    val serGen = Gen.nonEmptyListOf(for {
      i <- Gen.choose(0, 200)
      missing <- Gen.prob(0.3)
      v <- Gen.choose(0.0, 50.0)
    } yield (i, if (missing) None else Some(v)))
    forAll(serGen) { ser0 =>
      val ser = ser0.groupBy(_._1).map(_._2.head).toSeq // unique hours
      val df = ser.map { case (i, v) =>
        ("s", new Timestamp(1704067200000L + i * 3600000L), i.toLong, v)
      }.toDF("g", "t", "id", "v")
      val out = Impute.historicalFill(df, col("g"), col("t"), col("v"))
      out.count() shouldBe ser.length
      out.filter(col("v").isNotNull && col("v") =!= col("v_filled"))
        .count() shouldBe 0
      // if any value exists, every row is filled
      if (ser.exists(_._2.isDefined))
        out.filter(col("v_filled").isNull).count() shouldBe 0
    }
  }

  test("property: dedupLines keeps exactly the lines with corpus df < minDf, " +
    "in original order") {
    import graft.engine.NearDup
    val lineAlpha = Vector("alpha", "beta", "gamma", "delta")
    val docsGen = for {
      n <- Gen.choose(1, 6)
      docs <- Gen.listOfN(n,
        Gen.nonEmptyListOf(Gen.oneOf(lineAlpha)).map(_.take(6)))
      minDf <- Gen.choose(1, 4)
    } yield (docs, minDf)
    forAll(docsGen, n = 15) { case (docLines, minDf) =>
      val docs = docLines.zipWithIndex.map { case (ls, i) =>
        (i.toLong, ls.mkString("\n"))
      }
      val out = NearDup.dedupLines(docs.toDF("doc_id", "text"),
        col("doc_id"), col("text"), minDf)
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
      // reference model: line df counts DISTINCT docs
      val dfCount = docLines.flatMap(_.distinct)
        .groupBy(identity).view.mapValues(_.size).toMap
      docs.foreach { case (id, text) =>
        val ls = text.split("\n", -1).toSeq
        val kept = ls.filter(l => dfCount(l) < minDf)
        out(id) shouldBe ((ls.size.toLong, kept.size.toLong,
          kept.mkString("\n")))
      }
    }
  }

  test("property: tfidfTopTerms matches a from-scratch tf-idf model") {
    import graft.engine.TextOps
    val vocab = Vector("a", "b", "c", "d", "e")
    val docsGen = for {
      n <- Gen.choose(2, 8)
      docs <- Gen.listOfN(n,
        Gen.nonEmptyListOf(Gen.oneOf(vocab)).map(_.take(10)))
      k <- Gen.choose(1, 4)
    } yield (docs, k)
    forAll(docsGen, n = 15) { case (docToks, k) =>
      val docs = docToks.zipWithIndex.map { case (ts, i) =>
        (i.toLong, ts.mkString(" "))
      }
      val out = TextOps.tfidfTopTerms(docs.toDF("doc_id", "text"),
          col("doc_id"), col("text"), k)
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      val nDocs = docs.size
      val dfm = docToks.flatMap(_.distinct)
        .groupBy(identity).view.mapValues(_.size).toMap
      val expected = docToks.zipWithIndex.flatMap { case (ts, i) =>
        val tf = ts.groupBy(identity).view.mapValues(_.size).toMap
        val scored = tf.map { case (t, f) =>
          (t, f.toLong *
            math.floor(math.log(nDocs.toDouble / dfm(t)) * 1e6).toLong)
        }.toSeq.sortBy { case (t, s) => (-s, t) }
        scored.take(k).zipWithIndex.map { case ((t, s), r) =>
          (i.toLong, t, s, (r + 1).toLong)
        }
      }.toSet
      out.toSet shouldBe expected
    }
  }

  test("property: sessionize partitions each key's events; gaps define the cut") {
    import graft.engine.Analytics
    val evGen = for {
      nKeys <- Gen.choose(1, 3)
      n <- Gen.choose(1, 40)
      rows <- Gen.listOfN(n, for {
        k <- Gen.choose(1, nKeys)
        // minute offsets up to 4h so both sides of a 30-min gap occur
        m <- Gen.choose(0, 240)
        v <- Gen.choose(0.0, 10.0)
      } yield (k.toLong, m, v))
    } yield rows
    forAll(evGen, n = 15) { rows =>
      val df = rows.map { case (k, m, v) =>
        (k, new Timestamp(1704067200000L + m * 60000L), v)
      }.toDF("k", "ts", "v")
      val sessions = Analytics.sessionize(df, col("k"), col("ts"), col("v"), 30)
        .collect()
        .map(r => (r.getLong(0), r.getTimestamp(2), r.getTimestamp(3),
          r.getLong(4)))
      // 1. partition law: session row counts per key sum to the key's events
      val perKey = rows.groupBy(_._1).view.mapValues(_.size).toMap
      sessions.groupBy(_._1).foreach { case (k, ss) =>
        ss.map(_._4).sum shouldBe perKey(k)
      }
      // 2. ordering/gap law: consecutive sessions of a key are separated by
      // MORE than the timeout, and sessions never overlap
      sessions.groupBy(_._1).values.foreach { ss =>
        ss.sortBy(_._2.getTime).sliding(2).foreach {
          case Array(a, b) =>
            (b._2.getTime - a._3.getTime) should be > 30L * 60000L
          case _ => ()
        }
      }
      // 3. within a session, start <= end and the span is gap-bounded per
      // event count (n events can span at most (n-1) * timeout)
      sessions.foreach { case (_, start, end, n) =>
        start.getTime should be <= end.getTime
        (end.getTime - start.getTime) should be <= (n - 1).max(0) * 30L * 60000L
      }
    }
  }

  test("property: boundedTopK == row_number window on arbitrary groups, " +
    "scores (with ties and duplicates), and k") {
    import org.apache.spark.sql.expressions.Window
    val gen = for {
      n <- Gen.choose(1, 120)
      k <- Gen.choose(1, 8)
      rows <- Gen.listOfN(n, for {
        g <- Gen.choose(1L, 4L)
        id <- Gen.choose(0L, 30L) // small domain → frequent score/id ties
        s <- Gen.oneOf(Gen.choose(-5, 5).map(_.toDouble / 2), Gen.const(1.0))
      } yield (g, id, s))
    } yield (k, rows)
    forAll(gen, n = 8) { case (k, rows) =>
      val df = rows.toDF("qid", "cid", "cos")
        .dropDuplicates("qid", "cid").repartition(7)
      val agg = df.groupBy(col("qid"))
        .agg(graft.engine.Similarity.boundedTopK(col("cos"), col("cid"), k)
          .as("tk"))
        .select(col("qid"), posexplode(col("tk")).as(Seq("p", "s")))
        .select(col("qid"), col("s.id").as("cid"), col("s.score").as("cos"),
          (col("p") + 1).cast("long").as("rn"))
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("cos").desc, col("cid").asc)
      val win = df.withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= k)
      def s(d: org.apache.spark.sql.DataFrame) = d.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
        .toSet
      s(agg) shouldBe s(win)
    }
  }

  test("property: pageRank matches a from-scratch driver reference on " +
    "random graphs, any iteration depth") {
    import graft.engine.Graph
    def reference(edges: Set[(String, String)], iters: Int,
                  dampPct: Int): Map[String, Long] = {
      val out = edges.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
      val nodes = edges.flatMap(e => Seq(e._1, e._2))
      var r = nodes.map(_ -> Graph.RankUnit).toMap
      (1 to iters).foreach { _ =>
        val contrib = scala.collection.mutable.Map[String, Long]()
          .withDefaultValue(0L)
        edges.foreach { case (u, v) => contrib(v) += r(u) / out(u) }
        r = nodes.map(n => n ->
          (((100L - dampPct) * Graph.RankUnit + dampPct * contrib(n)) / 100L))
          .toMap
      }
      r
    }
    val graphGen = for {
      nEdges <- Gen.choose(1, 24)
      edges <- Gen.listOfN(nEdges, for {
        a <- Gen.choose(0, 7); b <- Gen.choose(0, 7)
      } yield (s"n$a", s"n$b"))
      iters <- Gen.choose(1, 3)
      damp <- Gen.oneOf(85, 50, 100)
    } yield (edges.toSet, iters, damp)
    forAll(graphGen, n = 12) { case (edges, iters, damp) =>
      val spark_ = Graph.pageRank(
          edges.toSeq.toDF("src", "dst"), col("src"), col("dst"),
          iters = iters, dampPct = damp)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      spark_ shouldBe reference(edges, iters, damp)
    }
  }

  test("property: MatView state fold is associative and commutative vs a " +
    "one-shot rebuild on random slicings") {
    import graft.engine.MatView
    val dataGen = for {
      n <- Gen.choose(1, 60)
      rows <- Gen.listOfN(n, for {
        k <- Gen.oneOf("a", "b", "c")
        v <- Gen.option(Gen.choose(-50.0, 50.0))
      } yield (k, v))
      slices <- Gen.choose(2, 4)
    } yield (rows, slices)
    forAll(dataGen, n = 10) { case (rows, slices) =>
      val df = rows.map { case (k, v) =>
        (k, v.map(Double.box).orNull.asInstanceOf[java.lang.Double])
      }.toDF("k", "v")
      def canon(s: org.apache.spark.sql.DataFrame) =
        s.collect().map(r => r.getString(0) ->
          ((Option(r.get(1)), r.getLong(2), Option(r.get(3)),
            Option(r.get(4))))).toMap
      val oneShot = MatView.aggState(df, Seq(col("k")), col("v"))
      val parts = (0 until slices).map(i =>
        MatView.aggState(
          df.filter(pmod(xxhash64(col("k"), col("v")), lit(slices)) === i),
          Seq(col("k")), col("v")))
      // fold in two different orders
      val fwd = MatView.mergeStates(parts, Seq("k"))
      val rev = MatView.mergeStates(parts.reverse, Seq("k"))
      canon(fwd) shouldBe canon(oneShot)
      canon(rev) shouldBe canon(oneShot)
    }
  }

  test("property: backtestHistMean matches a from-scratch expanding-mean " +
    "reference on random series") {
    import graft.engine.Forecast
    def floorDiv(n: Long, d: Long): Long = Math.floorDiv(n, d)
    val seriesGen = for {
      n <- Gen.choose(2, 40)
      rows <- Gen.listOfN(n, for {
        day <- Gen.choose(1, 6)
        h <- Gen.oneOf(4, 9)
        m <- Gen.choose(0, 59)
        v <- Gen.choose(-20.0, 20.0)
      } yield (day, h, m, v))
    } yield rows
    forAll(seriesGen, n = 8) { rows =>
      val df = rows.map { case (day, h, m, v) =>
        ("k", Timestamp.valueOf(f"2024-01-$day%02d $h%02d:$m%02d:00"), v)
      }.toDF("k", "t", "v")
      val out = Forecast.backtestHistMean(df, col("k"), col("t"), col("v"))
        .collect().map { r =>
          (r.getDate(1).toString, r.getLong(2)) ->
            ((r.getLong(3), Option(r.get(4)).map(_.asInstanceOf[Long])))
        }.toMap
      // reference: (day, hour) cells, expanding row-weighted mean per hour
      val cells = rows.groupBy(t => (t._1, t._2)).map { case ((d, h), rs) =>
        (d, h, rs.map(r => math.floor(r._4 * 1e6 + 0.5).toLong).sum,
          rs.size.toLong)
      }.toSeq
      cells.groupBy(_._2).foreach { case (h, hs) =>
        val byDay = hs.sortBy(_._1)
        var (cs, cn) = (0L, 0L)
        byDay.foreach { case (d, _, s, n) =>
          val key = (f"2024-01-$d%02d", h.toLong)
          val (actual, pred) = out(key)
          actual shouldBe floorDiv(s, n)
          pred shouldBe (if (cn > 0) Some(floorDiv(cs, cn)) else None)
          cs += s; cn += n
        }
      }
    }
  }

  test("property: pngImage inverts spec-reference filtering — random " +
    "pixels, random per-row filter types, all four channel counts") {
    import graft.engine.Multimodal
    val imgGen = for {
      w <- Gen.choose(1, 9)
      h <- Gen.choose(1, 9)
      ch <- Gen.oneOf(1, 2, 3, 4)
      px <- Gen.listOfN(w * h * ch, Gen.choose(0, 255))
      fs <- Gen.listOfN(h, Gen.choose(0, 4))
    } yield (w, h, ch, px.map(_.toByte).toArray, fs.toArray)
    forAll(imgGen, n = 30) { case (w, h, ch, px, fs) =>
      val payload = MediaTestFixtures.pngOf(w, h, 8,
        MediaTestFixtures.colorTypeOf(ch), 0,
        MediaTestFixtures.filterScanlines(w, h, ch, px, fs))
      val img = Multimodal.Decoders.pngImage(payload)
      (img.width, img.height, img.channels) shouldBe ((w, h, ch))
      img.pixels.toSeq shouldBe px.toSeq
    }
  }

  test("property: resizePng NN law — out(x, y) == src(x·srcW/newW, " +
    "y·srcH/newH) for random dims; identity resize is the identity") {
    import graft.engine.Multimodal
    val gen = for {
      w <- Gen.choose(1, 8)
      h <- Gen.choose(1, 8)
      ch <- Gen.oneOf(1, 2, 3, 4)
      nw <- Gen.choose(1, 10)
      nh <- Gen.choose(1, 10)
      px <- Gen.listOfN(w * h * ch, Gen.choose(0, 255))
    } yield (w, h, ch, nw, nh, px.map(_.toByte).toArray)
    forAll(gen, n = 30) { case (w, h, ch, nw, nh, px) =>
      val src = MediaTestFixtures.pngOf(w, h, 8,
        MediaTestFixtures.colorTypeOf(ch), 0,
        MediaTestFixtures.filterScanlines(w, h, ch, px,
          Array.tabulate(h)(_ % 5)))
      val out = Multimodal.Decoders.pngImage(
        Multimodal.Decoders.resizePng(src, nw, nh))
      (out.width, out.height, out.channels) shouldBe ((nw, nh, ch))
      for (y <- 0 until nh; x <- 0 until nw; c <- 0 until ch) {
        val sx = (x.toLong * w / nw).toInt
        val sy = (y.toLong * h / nh).toInt
        out.pixels((y * nw + x) * ch + c) shouldBe
          px((sy * w + sx) * ch + c)
      }
      val id = Multimodal.Decoders.pngImage(
        Multimodal.Decoders.resizePng(src, w, h))
      id.pixels.toSeq shouldBe px.toSeq
    }
  }

  test("property: bmp24 means and resizeBmp24 NN law on spec-assembled " +
    "BMPs at random dims (row padding exercised at every w % 4 residue)") {
    import graft.engine.Multimodal
    val gen = for {
      w <- Gen.choose(1, 9)
      h <- Gen.choose(1, 9)
      nw <- Gen.choose(1, 10)
      nh <- Gen.choose(1, 10)
      px <- Gen.listOfN(w * h, for {
        r <- Gen.choose(0, 255); g <- Gen.choose(0, 255)
        b <- Gen.choose(0, 255)
      } yield (r, g, b))
    } yield (w, h, nw, nh, px.toArray)
    forAll(gen, n = 30) { case (w, h, nw, nh, px) =>
      val src = MediaTestFixtures.bmpOf(w, h, px)
      def r6(x: Double) = BigDecimal(x)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val n = (w * h).toDouble
      Multimodal.Decoders.bmp24(src).toSeq shouldBe Seq(w.toDouble,
        h.toDouble, 3.0, r6(px.map(_._1).sum / n), r6(px.map(_._2).sum / n),
        r6(px.map(_._3).sum / n))
      // NN law through resize: out pixel (x, y) == src(x·w/nw, y·h/nh)
      // in TOP-DOWN IMAGE coordinates — the same anchor as resizePng
      // (r11 fix: through r10 the resampler mapped bottom-up storage rows
      // directly, bottom-anchoring the vertical axis in image space);
      // verified through bmp24's channel means vs a from-scratch NN
      // reference (random 24-bit pixels make mean collisions negligible)
      val resized = Multimodal.Decoders.resizeBmp24(src, nw, nh)
      val ref = for (y <- 0 until nh; x <- 0 until nw)
        yield px((y.toLong * h / nh).toInt * w +
          (x.toLong * w / nw).toInt)
      val m = (nw * nh).toDouble
      Multimodal.Decoders.bmp24(resized).toSeq shouldBe Seq(nw.toDouble,
        nh.toDouble, 3.0, r6(ref.map(_._1).sum / m),
        r6(ref.map(_._2).sum / m), r6(ref.map(_._3).sum / m))
    }
  }

  test("property: gif87Frames inverts a spec-reference LZW encoder — " +
    "random palettes, dims, frame counts; a 96×96 noise frame drives the " +
    "dictionary through every width bump to the 4096 cap") {
    import graft.engine.Multimodal
    val gen = for {
      w <- Gen.choose(1, 10)
      h <- Gen.choose(1, 10)
      pbits <- Gen.oneOf(1, 2, 3)
      nf <- Gen.choose(1, 3)
      pal <- Gen.listOfN(1 << pbits, for {
        r <- Gen.choose(0, 255)
        g <- Gen.choose(0, 255)
        b <- Gen.choose(0, 255)
      } yield (r, g, b))
      fs <- Gen.listOfN(nf,
        Gen.listOfN(w * h, Gen.choose(0, (1 << pbits) - 1)))
    } yield (w, h, pal.toArray, fs.map(_.toArray))
    forAll(gen, n = 30) { case (w, h, pal, fs) =>
      val frames = Multimodal.Decoders.gif87Frames(
        MediaTestFixtures.gifOf(w, h, pal, fs))
      frames.length shouldBe fs.length
      frames.zip(fs).foreach { case (fr, idx) =>
        (fr.width, fr.height) shouldBe ((w, h))
        fr.pixels.toSeq shouldBe idx.flatMap { c =>
          val (r, g, b) = pal(c)
          Seq(r.toByte, g.toByte, b.toByte)
        }.toSeq
      }
    }
    // deterministic cap workout: 9216 noise pixels emit > 4096 codes, so
    // both sides grow through every code width AND freeze at the full
    // dictionary — the two LZW regimes random small frames rarely reach
    val big = Array.tabulate(96 * 96)(i => (((i * 2654435761L) >>> 13) & 3).toInt)
    val bigPal = Array((0, 0, 0), (255, 0, 0), (0, 255, 0), (0, 0, 255))
    val fr = Multimodal.Decoders.gif87Frames(
      MediaTestFixtures.gifOf(96, 96, bigPal, Seq(big))).head
    (fr.width, fr.height) shouldBe ((96, 96))
    (0 until 96 * 96).foreach { i =>
      val (r, g, b) = bigPal(big(i))
      ((fr.pixels(3 * i) & 0xff, fr.pixels(3 * i + 1) & 0xff,
        fr.pixels(3 * i + 2) & 0xff)) shouldBe ((r, g, b))
    }
  }

  test("property: sampleAudioFrames matches a from-scratch collections " +
    "reference on random clips") {
    import graft.engine.Multimodal
    val clipGen = for {
      ch <- Gen.oneOf(1, 2, 3)
      nInst <- Gen.choose(1, 30)
      frameLen <- Gen.choose(1, 7)
      everyN <- Gen.choose(1, 3)
      samples <- Gen.listOfN(nInst * ch,
        Gen.choose(Short.MinValue.toInt, Short.MaxValue.toInt))
    } yield (ch, nInst, frameLen, everyN, samples.map(_.toShort).toArray)
    forAll(clipGen, n = 10) { case (ch, nInst, frameLen, everyN, samples) =>
      val media = Seq((7L, "audio",
        MediaTestFixtures.wavOf(8000, ch, samples)))
        .toDF("media_id", "kind", "payload")
      val got = Multimodal.sampleAudioFrames(media, frameLen, everyN)
        .collect().map(r => r.getLong(2) ->
          ((r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
      // reference: channel-major frames over plain collections
      val byChannel = (0 until ch).map(c =>
        (0 until nInst).map(t => samples(t * ch + c).toInt))
      val expect =
        (0 until (nInst + frameLen - 1) / frameLen by everyN).map { fx =>
          val chunk = byChannel.map(_.slice(fx * frameLen,
            (fx + 1) * frameLen))
          val flat = chunk.flatten
          val zc = chunk.map(cs => cs.indices.drop(1)
            .count(i => (cs(i - 1) < 0) != (cs(i) < 0))).sum
          fx.toLong -> ((flat.size.toLong,
            flat.map(v => math.abs(v.toLong)).sum,
            flat.map(v => v.toLong * v).sum, zc.toLong))
        }.toMap
      got shouldBe expect
    }
  }
}
