package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions.col

/** Multimodal plumbing invariants at sf0.001: the FAKE codec's outputs are
  * pinned against direct JVM recomputation (the part no SQL oracle covers),
  * and the batch/partitioning machinery is exercised for real.
  */
class MultimodalSpec extends SparkSpec {

  test("media table: payload bytes round-trip the document text") {
    val media = Multimodal.mediaTable(spark, sfDir).collect()
    val docs = graft.core.Tables
      .documents(spark, sfDir)
      .select("doc_id", "text")
      .collect()
      .map(r => r.getLong(0) -> r.getString(1))
      .toMap
    assert(media.length === docs.size)
    media.take(20).foreach { m =>
      assert(new String(m.payload, "UTF-8") === docs(m.media_id))
      assert(Set("image", "audio", "video").contains(m.kind))
    }
  }

  test("decode matches a direct FakeCodec run (plumbing adds/loses nothing)") {
    val media = Multimodal.mediaTable(spark, sfDir)
    val decoded = Multimodal.decode(media).collect().map(d => d.media_id -> d).toMap
    media.collect().take(50).foreach { m =>
      val (w, h, sum) = Multimodal.FakeCodec.decode(m.payload)
      val d = decoded(m.media_id)
      assert(d.width === w && d.height === h && d.byte_sum === sum)
      assert(d.n_bytes === m.payload.length.toLong)
    }
  }

  test("features: L1-normalized 16-dim histograms, stable across partitionings") {
    val media = Multimodal.mediaTable(spark, sfDir)
    val f1 = Multimodal.extractFeatures(media).collect().map(f => f.media_id -> f.features.toSeq).toMap
    val f2 = Multimodal
      .extractFeatures(media.repartition(7))
      .collect()
      .map(f => f.media_id -> f.features.toSeq)
      .toMap
    assert(f1 === f2, "feature extraction must not depend on partitioning")
    f1.values.take(20).foreach { f =>
      assert(f.length === Multimodal.FeatureDim)
      assert(math.abs(f.sum - 1.0f) < 1e-3, "histogram is L1-normalized")
    }
  }

  test("frame sampling: frame count = ceil(duration/cadence), contiguous indexes") {
    val frames = Multimodal.q38FrameSample(spark, sfDir).collect()
    val byMedia = frames.groupBy(_.getLong(0))
    val durations = Multimodal
      .mediaTable(spark, sfDir)
      .filter(org.apache.spark.sql.functions.col("kind") === "video")
      .collect()
      .map(m => m.media_id -> m.meta.duration_ms)
      .toMap
    assert(byMedia.keySet === durations.keySet)
    byMedia.foreach { case (id, fs) =>
      val expected = ((durations(id) + 999) / 1000).toInt
      assert(fs.length === expected)
      assert(fs.map(_.getInt(1)).sorted.sameElements(0 until expected))
    }
  }

  test("q65 resize: fits the 224-box, preserves aspect, never upscales, deterministic") {
    val rows = Multimodal
      .resize(Multimodal.mediaTable(spark, sfDir), targetW = 224, targetH = 224)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.out_width <= 224 && r.out_height <= 224, s"media ${r.media_id} exceeds the box")
      assert(r.scale <= 1.0 && r.scale > 0.0, "downscale only")
      // aspect preserved: cross-multiplied ratios agree within the slack
      // that per-dimension half-pixel rounding allows (|out_w*h - out_h*w|
      // <= 0.5h + 0.5w) — an implementation-independent invariant, not a
      // recomputation of the resize formula
      assert(
        math.abs(r.out_width.toLong * r.height - r.out_height.toLong * r.width) <= (r.width + r.height) / 2 + 1,
        s"aspect drifted: $r"
      )
      // at least one dimension touches the box unless the input already fit
      if (r.scale < 1.0) assert(r.out_width >= 223 || r.out_height >= 223, s"loose fit: $r")
      assert(r.resized_bytes >= 1L)
    }
    val summary = Multimodal.q65MediaResize(spark, sfDir).collect()
    assert(summary.map(_.getString(0)).sorted.sameElements(Array("audio", "image", "video")))
    // deterministic across runs
    val again = Multimodal.q65MediaResize(spark, sfDir).collect()
    assert(summary.map(_.toString).sameElements(again.map(_.toString)))
  }

  test("q114 image near-dup: banded plan equals the exact all-pairs hamming join") {
    // independent replica: aHash re-derived from raw text bytes (not via
    // FakeCodec), exact O(n^2) hamming, tau = 6 — this EXECUTES the
    // pigeonhole-completeness claim: <= 6 differing bits across 8 bands
    // leave >= 1 band equal, so banding must surface every qualifying pair
    def aHash(bytes: Array[Byte]): Array[Int] = {
      val n = bytes.length
      val w = math.ceil(n / 64.0).toInt
      val cells = Array.tabulate(64) { c =>
        (c * w until math.min((c + 1) * w, n)).map(i => (bytes(i) & 0xff).toLong).sum
      }
      val total = cells.sum
      val bits = cells.map(v => if (v.toDouble > total / 64.0) 1 else 0)
      Array.tabulate(8)(b => (0 until 8).map(j => bits(b * 8 + j) << j).sum)
    }
    val imgs = graft.core.Tables
      .documents(spark, sfDir)
      .select("doc_id", "text")
      .collect()
      .collect {
        case r if r.getAs[Long]("doc_id") % 3 == 0 && r.getAs[String]("text").getBytes("UTF-8").length >= 64 =>
          r.getAs[Long]("doc_id") -> aHash(r.getAs[String]("text").getBytes("UTF-8"))
      }
    val expected = (for {
      (a, ha) <- imgs
      (b, hb) <- imgs
      if a < b
      d = ha.zip(hb).map { case (x, y) => Integer.bitCount(x ^ y) }.sum
      if d <= 6
    } yield (a, b, d.toLong)).toSet
    val got = Multimodal
      .q114ImageNeardup(spark, sfDir)
      .collect()
      .map(r => (r.getAs[Long]("media_a"), r.getAs[Long]("media_b"), r.getAs[Long]("hamming")))
      .toSet
    assert(got === expected, s"banded != exact (missing ${expected -- got}, phantom ${got -- expected})")
    info(s"sf0.001: ${imgs.length} images, ${expected.size} near-dup pairs — banded plan exact")
  }

  test("q114 planted: a lightly-edited image pairs with its source") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("q114").toString
    val base = (1 to 100).map(i => ('a' + i % 26).toChar).mkString
    val edited = base.updated(10, 'z').updated(11, 'z') // a couple of "pixels" touched
    val far = (1 to 100).map(i => ('a' + (i * 17 + 5) % 26).toChar).mkString
    // ids 0, 3, 6: all land in mediaTable's image kind (doc_id % 3 == 0)
    Seq((0L, base), (3L, edited), (6L, far))
      .map { case (id, text) => (id, text, "en", "srcX", text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write
      .parquet(s"$dir/documents.parquet")
    val got = Multimodal
      .q114ImageNeardup(spark, dir)
      .collect()
      .map(r => (r.getAs[Long]("media_a"), r.getAs[Long]("media_b")) -> r.getAs[Long]("hamming"))
      .toMap
    assert(got.contains((0L, 3L)), s"edited copy must pair with its source: $got")
    assert(got((0L, 3L)) <= 6L)
  }

  test("q115 video near-dup: planted copies pair by frame containment; invariants at sf0.001") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("q115").toString
    // 100 chars, duration = 100*40 = 4000ms -> 4 frames of 25 chars
    val base = (1 to 100).map(i => ('a' + i % 26).toChar).mkString
    val threeQuarters = base.take(75) + (1 to 25).map(i => ('A' + i % 26).toChar).mkString
    val unrelated = (1 to 100).map(i => ('a' + (i * 13 + 7) % 26).toChar).mkString
    // ids 2, 5, 8: all land in mediaTable's video kind (doc_id % 3 == 2)
    Seq((2L, base), (5L, base), (8L, threeQuarters), (11L, unrelated))
      .map { case (id, text) => (id, text, "en", "srcX", text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write
      .parquet(s"$dir/documents.parquet")
    val got = Multimodal
      .q115VideoNeardup(spark, dir)
      .collect()
      .map(r => (r.getAs[Long]("media_a"), r.getAs[Long]("media_b")) -> ((r.getAs[Long]("shared_frames"), r.getAs[Double]("containment"))))
      .toMap
    assert(got((2L, 5L)) === ((4L, 1.0)), s"verbatim copy must share all 4 frames: $got")
    assert(got((2L, 8L)) === ((3L, 0.75)) && got((5L, 8L)) === ((3L, 0.75)), s"3/4 overlap: $got")
    assert(!got.keySet.exists(p => p._1 == 11L || p._2 == 11L), s"unrelated video must not pair: $got")

    // corpus invariants: both sides video-kind, containment in [0.5, 1],
    // shared <= min frame count
    val rows = Multimodal.q115VideoNeardup(spark, sfDir).collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("media_a") % 3 === 2L && r.getAs[Long]("media_b") % 3 === 2L)
      val c = r.getAs[Double]("containment")
      assert(c >= 0.5 && c <= 1.0, s"containment out of range: $r")
      assert(r.getAs[Long]("shared_frames") >= 1L)
    }
    info(s"sf0.001: ${rows.length} video near-dup pairs")
  }

  test("q175 audio near-dup: planted copies pair by energy-shingle containment; invariants at sf0.001") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("q175").toString
    // 400 chars = 8 exact 50-byte energy windows -> 5 4-gram fingerprints
    val base = (1 to 400).map(i => ('a' + (i * 7 + 3) % 26).toChar).mkString
    // first WINDOW swapped: only the gram touching window 0 differs -> 4/5 shared
    val firstSwap = (1 to 50).map(i => ('A' + i % 26).toChar).mkString + base.drop(50)
    val unrelated = (1 to 400).map(i => ('a' + (i * 11 + 5) % 26).toChar).mkString
    // ids 1, 4, 7, 10: all land in mediaTable's audio kind (doc_id % 3 == 1)
    Seq((1L, base), (4L, base), (7L, firstSwap), (10L, unrelated))
      .map { case (id, text) => (id, text, "en", "srcX", text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write
      .parquet(s"$dir/documents.parquet")
    val got = Multimodal
      .q175AudioNeardup(spark, dir)
      .collect()
      .map(r => (r.getAs[Long]("media_a"), r.getAs[Long]("media_b")) -> ((r.getAs[Long]("shared_fps"), r.getAs[Double]("containment"))))
      .toMap
    assert(got((1L, 4L)) === ((5L, 1.0)), s"verbatim copy must share all 5 fingerprints: $got")
    assert(got((1L, 7L)) === ((4L, 0.8)) && got((4L, 7L)) === ((4L, 0.8)), s"one swapped window: $got")
    assert(!got.keySet.exists(p => p._1 == 10L || p._2 == 10L), s"unrelated audio must not pair: $got")

    // corpus invariants: both sides audio-kind, containment in [0.5, 1]
    val rows = Multimodal.q175AudioNeardup(spark, sfDir).collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("media_a") % 3 === 1L && r.getAs[Long]("media_b") % 3 === 1L)
      val c = r.getAs[Double]("containment")
      assert(c >= 0.5 && c <= 1.0, s"containment out of range: $r")
    }
    info(s"sf0.001: ${rows.length} audio near-dup pairs")
  }

  test("q115 hot-fp contract: a fingerprint in > MEDIA_FP_MAXDF videos is boilerplate — excluded from pairing AND denominators; rare fps still mine") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("q115hot").toString
    // video ids are doc_id % 3 == 2. 102 hot videos share ONE frame fp
    // ('c'*50 -> 2 identical 'c'*25 frames -> 1 distinct fp, df = 104 with
    // the two mixed docs > cap 100); two "mixed" docs carry the hot fp plus
    // one rare fp; two "rare" docs share a df=2 fp.
    val hot = "c" * 50
    val mixed = "c" * 50 + "d" * 25 // frames c25, c25, d25 -> {hotFp, rareFp}
    val rare = "e" * 50
    val rows = (0 until 102).map(k => (2L + 3 * k, hot)) ++
      Seq((2L + 3 * 102, mixed), (2L + 3 * 103, mixed), (2L + 3 * 104, rare), (2L + 3 * 105, rare))
    rows
      .map { case (id, text) => (id, text, "en", "srcX", text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write
      .parquet(s"$dir/documents.parquet")
    val got = Multimodal
      .q115VideoNeardup(spark, dir)
      .collect()
      .map(r => (r.getAs[Long]("media_a"), r.getAs[Long]("media_b")) -> ((r.getAs[Long]("shared_frames"), r.getAs[Double]("containment"))))
      .toMap
    val hotIds = (0 until 102).map(k => 2L + 3 * k).toSet
    assert(
      !got.keySet.exists(p => hotIds(p._1) || hotIds(p._2)),
      s"hot-fp (boilerplate) videos must never pair — a df-capped key cannot go quadratic: ${got.keySet.size} pairs"
    )
    // the mixed pair survives THROUGH its rare fp alone: shared = 1 (the
    // hot fp is out of both the join and the nf denominators)
    assert(got((2L + 3 * 102, 2L + 3 * 103)) === ((1L, 1.0)), s"mixed pair must mine on its rare fp: $got")
    assert(got((2L + 3 * 104, 2L + 3 * 105)) === ((1L, 1.0)), s"rare pair must still mine: $got")
    assert(got.size === 2, s"exactly the two rare-keyed pairs: $got")
  }

  test("q175 hot-fp contract: a shingle in > MEDIA_FP_MAXDF audios is boilerplate — excluded; rare shingles still mine") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("q175hot").toString
    // audio ids are doc_id % 3 == 1. 'a'*200 -> 4 equal 50-byte windows ->
    // one distinct 4-gram fp shared by 102 hot + 2 mixed docs (df 104 >
    // cap); mixed adds a 'z'*50 window -> one rare gram (df 2); two rare
    // docs share a df=2 fp of their own.
    val hot = "a" * 200
    val mixed = "a" * 200 + "z" * 50
    val rare = "b" * 200
    val rows = (0 until 102).map(k => (1L + 3 * k, hot)) ++
      Seq((1L + 3 * 102, mixed), (1L + 3 * 103, mixed), (1L + 3 * 104, rare), (1L + 3 * 105, rare))
    rows
      .map { case (id, text) => (id, text, "en", "srcX", text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write
      .parquet(s"$dir/documents.parquet")
    val got = Multimodal
      .q175AudioNeardup(spark, dir)
      .collect()
      .map(r => (r.getAs[Long]("media_a"), r.getAs[Long]("media_b")) -> ((r.getAs[Long]("shared_fps"), r.getAs[Double]("containment"))))
      .toMap
    val hotIds = (0 until 102).map(k => 1L + 3 * k).toSet
    assert(
      !got.keySet.exists(p => hotIds(p._1) || hotIds(p._2)),
      s"hot-fp (boilerplate) audios must never pair: ${got.keySet.size} pairs"
    )
    assert(got((1L + 3 * 102, 1L + 3 * 103)) === ((1L, 1.0)), s"mixed pair must mine on its rare shingle: $got")
    assert(got((1L + 3 * 104, 1L + 3 * 105)) === ((1L, 1.0)), s"rare pair must still mine: $got")
    assert(got.size === 2, s"exactly the two rare-keyed pairs: $got")

    // q177's audit sees exactly what the cap excluded on this corpus: ONE
    // hot audio shingle (df 104 = 102 hot + 2 mixed docs) among 3 distinct
    // fps (hot gram, mixed's rare gram, rare pair's gram), 104 items
    // carrying it
    val audit = Multimodal
      .q177MediaBoilerplate(spark, dir)
      .collect()
      .map(r => r.getString(0) -> r)
      .toMap
    val a = audit("audio")
    assert(a.getAs[Long]("n_items") === 106L)
    assert(a.getAs[Long]("n_fps") === 3L)
    assert(a.getAs[Long]("n_hot_fps") === 1L, s"the planted hot shingle must be audited: $a")
    assert(a.getAs[Long]("n_items_affected") === 104L)
    assert(a.getAs[Long]("max_df") === 104L)
    val v = audit("video")
    assert(v.getAs[Long]("n_hot_fps") === 0L && v.getAs[Long]("n_items") === 0L, s"no videos planted here: $v")
  }

  test("q177 audit on the real corpus: every fingerprint rare, nothing excluded, shares consistent") {
    val rows = Multimodal.q177MediaBoilerplate(spark, sfDir).collect()
    assert(rows.map(_.getString(0)).toSeq === Seq("audio", "image_bands", "video"))
    rows.filter(_.getString(0) != "image_bands").foreach { r =>
      assert(r.getAs[Long]("n_hot_fps") === 0L, s"sf0.001 has no boilerplate keys: $r")
      assert(r.getAs[Long]("n_items_affected") === 0L)
      assert(r.getAs[Long]("max_df") <= Multimodal.MEDIA_FP_MAXDF)
      assert(r.getAs[Double]("hot_fp_share") === 0.0 && r.getAs[Double]("affected_share") === 0.0)
      assert(r.getAs[Long]("n_items") > 0L && r.getAs[Long]("n_fps") > 0L)
    }
    // image band buckets are only 8-bit keys, so their dfs concentrate
    // far more than md5 fingerprints — pin well-formedness, not rarity
    val ib = rows.find(_.getString(0) == "image_bands").get
    assert(ib.getAs[Long]("n_items") > 0L && ib.getAs[Long]("n_fps") > 0L)
    assert(ib.getAs[Long]("n_hot_fps") <= ib.getAs[Long]("n_fps"))
    assert(ib.getAs[Long]("n_items_affected") <= ib.getAs[Long]("n_items"))
    info(
      s"sf0.001 image_bands: ${ib.getAs[Long]("n_fps")} buckets, ${ib.getAs[Long]("n_hot_fps")} hot, " +
        s"max_df ${ib.getAs[Long]("max_df")} (cap ${Multimodal.MEDIA_FP_MAXDF})"
    )
  }

  test("q181 capped image mine: hot band buckets excluded; rare-bucket pairs still mined; subset of q114") {
    import spark.implicits._
    // 102 IDENTICAL images (every band bucket df >= 102 > cap: the
    // blank-frame/logo-card shape) + a near-identical pair sharing rare
    // buckets. q114 must pair all of them (pigeonhole completeness is its
    // contract); q181 must mine ONLY the rare pair.
    val imgIds = Iterator.from(1).map(_ * 3L)
    val hotIds = imgIds.take(102).toSeq
    val rest = Iterator.from(103).map(_ * 3L)
    val Seq(baseId, editId) = rest.take(2).toSeq
    val dir = java.nio.file.Files.createTempDirectory("q181hot").toString
    val hot = "zz  " * 25 // alternating cell energy (see the q178 note)
    val base = (1 to 100).map(i => ('a' + i % 26).toChar).mkString
    val edited = base.updated(10, 'z').updated(11, 'z') // within tau=6
    (hotIds.map((_, hot)) ++ Seq((baseId, base), (editId, edited)))
      .map { case (id, text) => (id, text, "en", "srcH", text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write
      .parquet(s"$dir/documents.parquet")
    val capped = Multimodal
      .q181ImageNeardupCapped(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    val hotSet = hotIds.toSet
    assert(!capped.keySet.exists(p => hotSet(p._1) || hotSet(p._2)), s"hot-bucket images must never pair: ${capped.size}")
    assert(capped.keySet === Set((baseId, editId)), s"exactly the rare pair: $capped")
    assert(capped((baseId, editId)) <= 6L)
    val full = Multimodal.q114ImageNeardup(spark, dir).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full.size === 102 * 101 / 2 + 1, s"uncapped q114 pairs all identicals + the rare pair: ${full.size}")
    assert(capped.keySet.subsetOf(full), "capped output must be a subset of the exact mine")
    // the q177 image_bands audit sees what the cap excluded: the 8 hot
    // buckets (the identical images' bands), >= 102 items affected
    val ib = Multimodal
      .q177MediaBoilerplate(spark, dir)
      .collect()
      .find(_.getString(0) == "image_bands")
      .get
    assert(ib.getAs[Long]("n_hot_fps") === 8L, s"the 8 identical-image buckets are the hot set: $ib")
    assert(ib.getAs[Long]("n_items_affected") >= 102L)
    assert(ib.getAs[Long]("max_df") >= 102L)

    // corpus invariants at sf0.001: capped is a subset of exact with the
    // same hammings on shared pairs
    val cap0 = Multimodal
      .q181ImageNeardupCapped(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    val full0 = Multimodal
      .q114ImageNeardup(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(cap0.keySet.subsetOf(full0.keySet))
    cap0.foreach { case (p, h) => assert(full0(p) === h, s"hamming drifted on $p") }
    info(s"sf0.001: capped ${cap0.size} of ${full0.size} exact pairs")
  }

  test("q178 image decontamination: a re-encoded eval image flags its train twin; clean train images pass") {
    import spark.implicits._
    def bucketOf(id: Long): Int = {
      val d = java.security.MessageDigest.getInstance("MD5").digest(id.toString.getBytes("UTF-8"))
      Integer.parseInt(d.take(1).map("%02x".format(_)).mkString, 16)
    }
    // image kind = doc_id % 3 == 0; pick ids landing in the train (<205)
    // and test (>=230) md5 buckets
    val trainIds = Iterator.from(0).map(_ * 3L).filter(id => bucketOf(id) < graft.operators.Sampling.SPLIT_TRAIN_LT)
    val testIds = Iterator.from(0).map(_ * 3L).filter(id => bucketOf(id) >= graft.operators.Sampling.SPLIT_VALIDATION_LT)
    val Seq(trainDup, trainClean) = trainIds.take(2).toSeq
    val evalLeak = testIds.next()
    val dir = java.nio.file.Files.createTempDirectory("q178").toString
    val base = (1 to 100).map(i => ('a' + i % 26).toChar).mkString
    val edited = base.updated(10, 'z').updated(11, 'z') // light re-encode: within tau=6
    // the fake aHash thresholds CELL sums against the mean, so any
    // uniform-letter text hashes like any other — "far" must alternate
    // high/low cells ("zz  " blocks) to land ~25 bits away, not 0
    val far = "zz  " * 25
    Seq((trainDup, base), (trainClean, far), (evalLeak, edited))
      .map { case (id, text) => (id, text, "en", "srcX", text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write
      .parquet(s"$dir/documents.parquet")
    val got = Multimodal
      .q178ImageDecontam(spark, dir)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got.keySet === Set(trainDup), s"exactly the leaked twin must flag: $got")
    val (n, bestHam, bestEval) = got(trainDup)
    assert(n === 1L && bestEval === evalLeak && bestHam <= 6L, s"$got")

    // corpus invariants at sf0.001: every flagged row is train-bucket,
    // its best match test-bucket, hamming within the radius
    def bucket(id: Long): Int = bucketOf(id)
    Multimodal.q178ImageDecontam(spark, sfDir).collect().foreach { r =>
      assert(bucket(r.getLong(0)) < graft.operators.Sampling.SPLIT_TRAIN_LT)
      assert(bucket(r.getLong(3)) >= graft.operators.Sampling.SPLIT_VALIDATION_LT)
      assert(r.getLong(2) <= 6L && r.getLong(1) >= 1L)
    }
  }

  test("q176 media dedup profile: recomposes exactly from the three per-kind miners") {
    val got = Multimodal
      .q176MediaDedupProfile(spark, sfDir)
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))))
      .toMap
    assert(got.keySet === Set("image", "audio", "video"))
    val kinds = Map(
      "image" -> Multimodal.q181ImageNeardupCapped(spark, sfDir), // the capped serving miner (r16)
      "audio" -> Multimodal.q175AudioNeardup(spark, sfDir),
      "video" -> Multimodal.q115VideoNeardup(spark, sfDir)
    )
    val nMedia = graft.core.Tables
      .documents(spark, sfDir)
      .collect()
      .map(r => Seq("image", "audio", "video")((r.getLong(0) % 3).toInt))
      .groupBy(identity)
      .view
      .mapValues(_.size.toLong)
      .toMap
    kinds.foreach { case (kind, q) =>
      val pairs = q.collect().map(r => (r.getLong(0), r.getLong(1)))
      val paired = pairs.flatMap(p => Seq(p._1, p._2)).distinct.length.toLong
      val exp = (nMedia(kind), pairs.length.toLong, paired,
        math.floor(paired.toDouble * 1e6 / nMedia(kind) + 0.5) / 1e6)
      assert(got(kind) === exp, s"$kind profile must recompose from its miner")
    }
    info(s"sf0.001: ${got.map { case (k, t) => s"$k ${t._3}/${t._1} paired" }.mkString(", ")}")
  }

  test("q116 audio activity: planted loud/quiet envelope segments exactly; invariants at sf0.001") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("q116").toString
    // 50-char windows; '~' (126) loud, '!' (33) quiet. 6 windows:
    // loud loud quiet loud quiet quiet -> active = {0,1,3}, segments
    // [0..1] and [3..3]
    val loud = "~" * 50
    val quiet = "!" * 50
    val audio = loud + loud + quiet + loud + quiet + quiet
    val flat = "m" * 300 // constant energy: no window EXCEEDS the mean
    // ids 1, 4: mediaTable's audio kind (doc_id % 3 == 1)
    Seq((1L, audio), (4L, flat))
      .map { case (id, text) => (id, text, "en", "srcX", text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write
      .parquet(s"$dir/documents.parquet")
    val got = Multimodal
      .q116AudioActivity(spark, dir)
      .collect()
      .map(r =>
        r.getAs[Long]("media_id") ->
          ((r.getAs[Long]("n_windows"), r.getAs[Long]("n_active"), r.getAs[Long]("n_segments"),
            r.getAs[Long]("longest_segment"), r.getAs[Double]("active_frac")))
      )
      .toMap
    assert(got(1L) === ((6L, 3L, 2L, 2L, 0.5)), s"planted envelope wrong: ${got(1L)}")
    assert(got(4L) === ((6L, 0L, 0L, 0L, 0.0)), s"flat audio must have no active windows: ${got(4L)}")

    val rows = Multimodal.q116AudioActivity(spark, sfDir).collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("media_id") % 3 === 1L)
      assert(r.getAs[Long]("n_active") <= r.getAs[Long]("n_windows"))
      assert(r.getAs[Long]("longest_segment") <= r.getAs[Long]("n_active"))
      assert(r.getAs[Long]("n_segments") <= r.getAs[Long]("n_active"))
      val f = r.getAs[Double]("active_frac")
      assert(f >= 0.0 && f < 1.0, s"active_frac must be below 1 (mean is strict): $r")
    }
    info(s"sf0.001: ${rows.length} audio tracks segmented")
  }

  test("q156 image clusters: equal a union-find closure of the capped (q181) pair graph") {
    val pairs = Multimodal
      .q181ImageNeardupCapped(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "the dup-dense corpus must mine image pairs or the clusters test nothing")
    // sf0.001 has no hot band buckets (the q177 test pins max_df <= cap
    // via the audit row), so the capped supply equals uncapped q114 here
    val uncapped = Multimodal.q114ImageNeardup(spark, sfDir).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSet === uncapped.toSet, "no hot buckets at sf0.001: capped supply must equal q114")
    // single-node union-find over the same edges
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = { val p = parent.getOrElseUpdate(x, x); if (p == x) x else { val r = find(p); parent(x) = r; r } }
    pairs.foreach { case (a, b) => val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) }
    val comps = parent.keys.toSeq.groupBy(find)
    val expected = comps.toSeq.flatMap { case (_, members) =>
      val label = members.min
      members.map(m => (m, label, members.size.toLong))
    }.toSet
    val got = Multimodal
      .q156ImageDupClusters(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(got === expected, "clusters must equal the union-find closure")
    // transitivity actually fires: some component must be larger than a pair
    // OR every pair is isolated — report which
    info(s"sf0.001: ${comps.size} clusters, max size ${comps.values.map(_.size).max}")
  }

  test("q156 capped clusters: a 102-identical hot-band group never forms the quadratic clique; rare pairs still cluster") {
    import spark.implicits._
    // the q181 planted shape: 102 identical images (every band bucket
    // df >= 102 > cap) + a near-identical rare pair. Uncapped closure
    // would build the 102-clique; the capped supply must yield EXACTLY
    // the rare pair's 2-cluster.
    val imgIds = Iterator.from(1).map(_ * 3L)
    val hotIds = imgIds.take(102).toSeq
    val rest = Iterator.from(103).map(_ * 3L)
    val Seq(baseId, editId) = rest.take(2).toSeq
    val dir = java.nio.file.Files.createTempDirectory("q156hot").toString
    val hot = "zz  " * 25
    val base = (1 to 100).map(i => ('a' + i % 26).toChar).mkString
    val edited = base.updated(10, 'z').updated(11, 'z')
    (hotIds.map((_, hot)) ++ Seq((baseId, base), (editId, edited)))
      .map { case (id, text) => (id, text, "en", "srcH", text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write
      .parquet(s"$dir/documents.parquet")
    val got = Multimodal
      .q156ImageDupClusters(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(
      got === Set((baseId, baseId, 2L), (editId, baseId, 2L)),
      s"capped clusters must be exactly the rare pair's component: $got"
    )
  }

  test("q183 hot ledger: planted boilerplate keys rank first with source attribution and dropped-pair mass; audit-consistent at sf0.001") {
    import spark.implicits._
    // 60 identical "logo card" images from srcA + 42 from srcB (every
    // band key df = 102 > cap) + a rare near-identical pair from srcC:
    // the ledger must rank the 8 hot keys first, attribute them to srcA
    // (60 > 42), and price each at 102*101/2 dropped candidate pairs
    val imgIds = Iterator.from(1).map(_ * 3L)
    val hotIds = imgIds.take(102).toSeq
    val rest = Iterator.from(103).map(_ * 3L)
    val Seq(baseId, editId) = rest.take(2).toSeq
    val dir = java.nio.file.Files.createTempDirectory("q183hot").toString
    val hot = "zz  " * 25
    val base = (1 to 100).map(i => ('a' + i % 26).toChar).mkString
    val edited = base.updated(10, 'z').updated(11, 'z')
    (hotIds.take(60).map(id => (id, hot, "srcA")) ++ hotIds.drop(60).map(id => (id, hot, "srcB")) ++
      Seq((baseId, base, "srcC"), (editId, edited, "srcC")))
      .map { case (id, text, s) => (id, text, "en", s, text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write
      .parquet(s"$dir/documents.parquet")
    val rows = Multimodal
      .q183MediaHotLedger(spark, dir)
      .collect()
      .filter(_.getString(0) == "image_bands")
      .map(r => (r.getInt(1), r.getString(2), r.getLong(3), r.getLong(4), r.getString(5), r.getLong(6)))
    val hotRows = rows.filter(_._3 >= 102L)
    // the rare pair's short texts zero out their trailing bands, so they
    // can share a zero-valued band key with the identicals (df 104, 3
    // sources) — the 8 hot keys still lead
    assert(hotRows.length === 8, s"the 8 identical-image band keys must lead the ledger: ${rows.toSeq}")
    assert(hotRows.map(_._1).sorted.toSeq === (1 to 8), "hot keys occupy ranks 1-8")
    hotRows.foreach { case (_, fp, df, nSrc, top, dropped) =>
      assert(df >= 102L && nSrc >= 2L, s"every planted copy is counted: $fp df=$df n_sources=$nSrc")
      assert(top === "srcA", s"dominant source is the 60-copy one: $fp -> $top")
      assert(dropped === df * (df - 1L) / 2L, s"dropped candidate mass priced exactly: $fp -> $dropped")
    }
    assert(hotRows.exists(r => r._3 === 102L && r._4 === 2L), "some band key is carried by the identicals alone")
    // rare keys below the cap carry no dropped mass
    rows.filter(_._3 <= Multimodal.MEDIA_FP_MAXDF).foreach(r => assert(r._6 === 0L, s"rare key priced nonzero: $r"))

    // sf0.001 invariants: per kind contiguous ranks, non-increasing df,
    // nothing hot (q177 pins max_df <= cap there), and the rank-1 df must
    // equal q177's audited max_df — the ledger IS the audit's drill-down
    val led = Multimodal.q183MediaHotLedger(spark, sfDir).collect()
    val audit = Multimodal
      .q177MediaBoilerplate(spark, sfDir)
      .collect()
      .map(r => r.getString(0) -> r.getAs[Long]("max_df"))
      .toMap
    led.groupBy(_.getString(0)).foreach { case (kind, rs) =>
      val byRank = rs.sortBy(_.getInt(1))
      assert(byRank.map(_.getInt(1)).toSeq === (1 to rs.length), s"$kind ranks contiguous")
      val dfs = byRank.map(_.getLong(3)).toSeq
      assert(dfs === dfs.sorted.reverse, s"$kind df non-increasing: $dfs")
      assert(rs.forall(_.getLong(6) === 0L), s"$kind has no hot keys at sf0.001")
      assert(dfs.head === audit(kind), s"$kind rank-1 df must equal q177's max_df")
    }
    info(s"sf0.001 ledger: ${led.length} rows across ${led.map(_.getString(0)).distinct.length} kinds")
  }

  test("q178 capped screen: hot-band cross-split identicals do not flag; a rare leak still does; capped subset of uncapped") {
    import spark.implicits._
    def bucketOf(id: Long): Int = {
      val d = java.security.MessageDigest.getInstance("MD5").digest(id.toString.getBytes("UTF-8"))
      Integer.parseInt(d.take(1).map("%02x".format(_)).mkString, 16)
    }
    val trainImg = Iterator.from(1).map(_ * 3L).filter(id => bucketOf(id) < graft.operators.Sampling.SPLIT_TRAIN_LT)
    val testImg = Iterator.from(1).map(_ * 3L).filter(id => bucketOf(id) >= graft.operators.Sampling.SPLIT_VALIDATION_LT)
    // 102 identical "blank frames" spread across the splits (60 train,
    // 42 eval): every band bucket they carry has df >= 102 > cap, so the
    // capped screen must NOT flag the train copies — boilerplate, not
    // leakage (the uncapped screen flags all 60). Plus one genuine leak:
    // a train image whose lightly-re-encoded twin sits in eval.
    val hotTrain = trainImg.take(60).toSeq
    val hotEval = testImg.take(42).toSeq
    val leakTrain = trainImg.next()
    val leakEval = testImg.next()
    val dir = java.nio.file.Files.createTempDirectory("q178hot").toString
    val hot = "zz  " * 25
    val base = (1 to 100).map(i => ('a' + i % 26).toChar).mkString
    val edited = base.updated(10, 'z').updated(11, 'z')
    ((hotTrain ++ hotEval).map((_, hot)) ++ Seq((leakTrain, base), (leakEval, edited)))
      .map { case (id, text) => (id, text, "en", "srcH", text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write
      .parquet(s"$dir/documents.parquet")
    val capped = Multimodal
      .q178ImageDecontam(spark, dir)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(capped.keySet === Set(leakTrain), s"only the genuine leak must flag under the cap: $capped")
    assert(capped(leakTrain) === ((1L, capped(leakTrain)._2, leakEval)) && capped(leakTrain)._2 <= 6L)
    // the uncapped screen flags the boilerplate too — and the capped
    // flagged set is a subset of it with identical ledger rows
    val bands = Multimodal.imageBands(spark, dir)
    val uncapped = Multimodal
      .imageDecontamFrom(bands, None)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(uncapped.keySet === hotTrain.toSet + leakTrain, s"uncapped must flag all hot train copies: ${uncapped.size}")
    assert(capped.keySet.subsetOf(uncapped.keySet))

    // sf0.001 has no hot buckets: capped == uncapped on the real corpus
    val c0 = Multimodal.q178ImageDecontam(spark, sfDir).collect().map(_.toSeq).toSet
    val u0 = Multimodal
      .imageDecontamFrom(Multimodal.imageBands(spark, sfDir), None)
      .collect()
      .map(_.toSeq)
      .toSet
    assert(c0 === u0, "no hot buckets at sf0.001: the capped screen must equal the uncapped one")
  }

  test("real codec: actual PNG/JPEG bytes decode for real — true dims, luminance histogram, JPEG near-dup within the q114 radius") {
    import java.awt.image.BufferedImage
    def img(f: (Int, Int) => Int): BufferedImage = {
      val b = new BufferedImage(64, 48, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 48; x <- 0 until 64) b.setRGB(x, y, f(x, y))
      b
    }
    def enc(b: BufferedImage, fmt: String): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(b, fmt, bos), s"JDK must carry a $fmt writer")
      bos.toByteArray
    }
    // high-contrast checkerboard aligned to the 8x8 hash grid (cells of
    // 8x6 px, uniformly 20 or 235): every cell mean sits far from the
    // global mean, so JPEG quantization noise cannot flip a hash bit
    def rgb(v: Int) = (v << 16) | (v << 8) | v
    val structured = img((x, y) => rgb(if ((x / 8 + y / 6) % 2 == 0) 20 else 235))
    val inverted = img((x, y) => rgb(if ((x / 8 + y / 6) % 2 == 0) 235 else 20))
    val png = enc(structured, "png")
    val jpg = enc(structured, "jpg")
    val pngInv = enc(inverted, "png")
    val (w, h, lum) = Multimodal.Codec.decode(png)
    assert((w, h) === ((64, 48)), "real container dims, not the fake's content-derived ones")
    assert(lum > 0)
    val f = Multimodal.Codec.features(png)
    assert(math.abs(f.sum - 1f) < 1e-3, "histogram L1-normalized")
    assert(f(1) > 0.3f && f(14) > 0.3f, "mass lands in the dark and bright luminance buckets")
    def ham(a: Array[Int], b: Array[Int]) = a.zip(b).map { case (x, y) => Integer.bitCount(x ^ y) }.sum
    val hp = Multimodal.Codec.aHash(png)
    assert(ham(hp, Multimodal.Codec.aHash(jpg)) <= 6, "JPEG re-encode must stay within q114's near-dup radius")
    assert(ham(hp, Multimodal.Codec.aHash(pngInv)) > 50, "the inverted image must be far")
    // the same real bytes flow through the distributed pipeline unchanged
    val spark0 = spark
    import spark0.implicits._
    val ds = spark.createDataset(
      Seq(Multimodal.MediaRow(1L, "image", png, Multimodal.MediaMeta("png", 64, 48, 0L)))
    )
    val dec = Multimodal.decode(ds).collect()(0)
    assert((dec.width, dec.height) === ((64, 48)))
    // fall-through: text bytes take the fake path bit-for-bit (the sniff
    // can never fire on valid UTF-8 — 0x89/0xFF are not legal lead bytes)
    val txt = "just some document text, definitely not a PNG".getBytes("UTF-8")
    assert(Multimodal.Codec.aHash(txt) === Multimodal.FakeCodec.aHash(txt))
    assert(Multimodal.Codec.decode(txt) === Multimodal.FakeCodec.decode(txt))
    assert(Multimodal.Codec.features(txt) === Multimodal.FakeCodec.features(txt))
  }

  test("real codec: actual WAV bytes decode for real — loud/silent windows exact; RIFF-prefixed text falls through") {
    import javax.sound.sampled._
    val n = 200
    val samples = Array.tabulate(n)(i => if (i < 100) (if (i % 2 == 0) 12000 else -12000) else 0)
    val pcm = new Array[Byte](n * 2)
    samples.zipWithIndex.foreach { case (s, i) =>
      pcm(2 * i) = (s & 0xff).toByte; pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
    }
    val fmt = new AudioFormat(8000f, 16, 1, true, false)
    val bos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(
      new AudioInputStream(new java.io.ByteArrayInputStream(pcm), fmt, n.toLong),
      AudioFileFormat.Type.WAVE,
      bos
    )
    val wav = bos.toByteArray
    val e = Multimodal.Codec.energyWindows(wav)
    assert(e.length === 4, "200 samples / 50-sample windows")
    assert(e(0) === 50L * (12000 >> 8) && e(1) === e(0), "loud windows carry the exact square-wave energy")
    assert(e(2) === 0L && e(3) === 0L, "silence reads zero")
    // a text doc that happens to spell RIFF....WAVE still falls through:
    // the strict parser rejects it and the fake path serves it
    val riffText = "RIFFxxxxWAVE format chunk? no, just prose that lied about its container".getBytes("UTF-8")
    assert(Multimodal.Codec.energyWindows(riffText) === Multimodal.FakeCodec.energyWindows(riffText))
  }

  test("q161 alignment: planted pairs — same-direction reads cos 1, orthogonal fires, anti-parallel reads cos -1") {
    val spark0 = spark
    import spark0.implicits._
    // doc 1: text = 3x the image vector (same direction -> unit cos exactly 1)
    // doc 2: disjoint support (the text side carries every position, as the
    //        real fold does) -> cos exactly 0, the mismatch the screen exists for
    // doc 3: anti-parallel -> cos exactly -1 (sign machinery, not just magnitude)
    val img = Seq(
      (1L, 0, 600000L), (1L, 1, 800000L),
      (2L, 0, 1000000L),
      (3L, 0, 600000L), (3L, 1, 800000L)
    ).toDF("doc_id", "pos", "v")
    val txt = Seq(
      (1L, 0, 1800000L), (1L, 1, 2400000L),
      (2L, 0, 0L), (2L, 1, 1000000L),
      (3L, 0, -600000L), (3L, 1, -800000L)
    ).toDF("doc_id", "pos", "v")
    val got = Multimodal
      .alignCosMicro(img, txt)
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    assert(got(1L) === 1000000L, "same direction must score exactly 1.0")
    assert(got(2L) === 0L, "orthogonal pair must score exactly 0 — under any positive floor, it fires")
    assert(got(3L) === -1000000L, "anti-parallel must score exactly -1.0")
    // zero vector: no cosine exists -> the doc drops rather than divides by 0
    val zero = Multimodal
      .alignCosMicro(Seq((9L, 0, 0L)).toDF("doc_id", "pos", "v"), Seq((9L, 0, 1L)).toDF("doc_id", "pos", "v"))
      .count()
    assert(zero === 0L)
  }

  test("q161 rollup: pairs cover exactly the image-kind docs with text and an embedding; flags match the floor") {
    val rows = Multimodal.q161ImageTextAlign(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val nImgWithEmb = graft.core.Tables
      .documents(spark, sfDir)
      .filter("doc_id % 3 = 0 AND length(text) > 0")
      .join(graft.core.Tables.embeddings(spark, sfDir).select("vec_id"), col("doc_id") === col("vec_id"))
      .count()
    assert(rows.map(_.getAs[Long]("n_pairs")).sum === nImgWithEmb, "every image with a caption embedding scores once")
    rows.foreach { r =>
      val (n, fl) = (r.getAs[Long]("n_pairs"), r.getAs[Long]("n_flagged"))
      assert(fl >= 0 && fl <= n)
      assert(r.getAs[Double]("flag_frac") === math.floor(fl.toDouble * 1e6 / n + 0.5) / 1e6)
      assert(r.getAs[Double]("min_align") <= r.getAs[Double]("mean_align"))
      val wantVerdict = if (math.floor(fl.toDouble * 1e6 / n + 0.5) > 500000d) "review" else "ok"
      assert(r.getAs[String]("verdict") === wantVerdict)
    }
    val flagged = rows.map(_.getAs[Long]("n_flagged")).sum
    assert(flagged > 0, "the near-uniform corpus must contain below-floor pairs or the screen is vacuous here")
    info(s"sf0.001: ${rows.length} sources, $flagged/${nImgWithEmb} flagged")
  }
}
