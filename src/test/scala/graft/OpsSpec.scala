package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.{Ann, Dedup, Hashing, KdTree, Multimodal, SpatialJoin}
import graft.SparkTestSession.{generatedSources, jobsDuring, withConf}

class OpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("hashing is deterministic and well-distributed") {
    assert(Hashing.hashString("hello") == Hashing.hashString("hello"))
    assert(Hashing.hashString("hello") != Hashing.hashString("hellp"))
    val hs = (0 until 1000).map(i => Hashing.family(42L, i)).toSet
    assert(hs.size == 1000)
  }

  test("minhash signature approximates jaccard") {
    val a = "the quick brown fox jumps over the lazy dog again and again today"
    val b = "the quick brown fox jumps over the lazy cat again and again today"
    val sa = Dedup.minhashSignature(a, 256, 3)
    val sb = Dedup.minhashSignature(b, 256, 3)
    val est = sa.zip(sb).count { case (x, y) => x == y }.toDouble / 256
    val exact = Dedup.jaccard(a, b, 3)
    assert(math.abs(est - exact) < 0.15, s"est $est vs exact $exact")
    // identical text -> identical signature, jaccard 1
    assert(Dedup.minhashSignature(a, 64, 3).sameElements(
      Dedup.minhashSignature(a, 64, 3)))
    assert(Dedup.jaccard(a, a, 3) == 1.0)
  }

  test("minhashNearDups finds planted near-duplicates and skips others") {
    val base = (1 to 40).map(i => s"token$i").mkString(" ")
    val nearDup = (1 to 40).map(i => if (i == 7) "changed" else s"token$i").mkString(" ")
    val other = (100 to 140).map(i => s"word$i").mkString(" ")
    val df = Seq((1L, base), (2L, nearDup), (3L, other))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashNearDups(df, "text", "doc_id", 128, 32, 3, 0.5)
      .collect()
    assert(pairs.length == 1)
    assert(pairs(0).getLong(0) == 1L && pairs(0).getLong(1) == 2L)
    assert(pairs(0).getDouble(2) > 0.5)
  }

  test("simhash hamming tracks similarity") {
    val a = (1 to 50).map(i => s"tok$i").mkString(" ")
    val b = (1 to 50).map(i => if (i % 25 == 0) "x" else s"tok$i").mkString(" ")
    val c = (200 to 250).map(i => s"other$i").mkString(" ")
    val hAb = java.lang.Long.bitCount(Dedup.simhash64(a) ^ Dedup.simhash64(b))
    val hAc = java.lang.Long.bitCount(Dedup.simhash64(a) ^ Dedup.simhash64(c))
    assert(hAb < hAc, s"near-dup hamming $hAb should beat unrelated $hAc")
    assert(Dedup.simhash64(a) == Dedup.simhash64(a))
  }

  test("simhashNearDups honors the pigeonhole guarantee") {
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val near = (1 to 60).map(i => if (i == 3) "x" else s"tok$i").mkString(" ")
    val df = Seq((1L, base), (2L, near), (3L, "completely different content here"))
      .toDF("doc_id", "text")
    val pairs = Dedup.simhashNearDups(df, "text", "doc_id", maxHamming = 8).collect()
    val found = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    val trueHamming = java.lang.Long.bitCount(
      Dedup.simhash64(base) ^ Dedup.simhash64(near))
    if (trueHamming <= 8) assert(found.contains((1L, 2L)))
  }

  test("ann: lsh recall on planted near-duplicate") {
    // 200 random-ish vectors + one planted near-dup of the query
    def vec(seed: Int): Array[Float] =
      Array.tabulate(32)(i => (Hashing.family(seed.toLong, i) % 1000).toFloat / 1000f)
    val query = vec(1)
    val planted = query.zipWithIndex.map { case (v, i) =>
      if (i == 0) v + 0.001f else v }
    val rows = (2 to 200).map(i => (i.toLong, vec(i))) :+ (999L, planted)
    val df = rows.toDF("vec_id", "embedding")
    val brute = Ann.bruteTopK(df, "embedding", "vec_id", query, 5).collect()
    assert(brute.head.getLong(0) == 999L, "brute force must find the planted dup")
    val lsh = Ann.lshTopK(df, "embedding", "vec_id", query, 5, bits = 8).collect()
    assert(lsh.head.getLong(0) == 999L,
      "multi-probe LSH must recall the planted near-dup (sim ~1)")
    // IVF path
    val cents = Ann.ivfCentroids(df, "embedding", "vec_id", 8)
    assert(cents.length == 8)
    val ivf = Ann.ivfTopK(df, "embedding", "vec_id", query, 5, cents, nProbe = 3)
      .collect()
    assert(ivf.nonEmpty)
  }

  test("embedding near-dups via LSH blocking find planted pair") {
    def vec(seed: Int): Array[Float] =
      Array.tabulate(32)(i => (Hashing.family(seed.toLong, i) % 1000).toFloat / 1000f)
    val planted = vec(5).zipWithIndex.map { case (v, i) =>
      if (i == 0) v + 0.001f else v }
    val rows = (1 to 100).map(i => (i.toLong, vec(i))) :+ (999L, planted)
    val df = rows.toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDups(df, "embedding", "vec_id",
      threshold = 0.999, bits = 8).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).contains((5L, 999L)),
      s"planted near-dup not found: ${pairs.toSeq}")
    assert(pairs.forall(_.getDouble(2) >= 0.999))
  }

  test("ngram jaccard: inverted-index pairs, df-pruning drops stop-grams") {
    val base = "alpha bravo charlie delta echo foxtrot golf hotel india"
    val near = "alpha bravo charlie delta echo foxtrot golf hotel juliet"
    val other = "kilo lima mike november oscar papa quebec romeo sierra"
    val df = Seq((1L, base), (2L, near), (3L, other)).toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccardNearDups(df, "text", "doc_id",
      n = 4, threshold = 0.5, maxDf = 10).collect()
    assert(pairs.length == 1)
    assert((pairs(0).getLong(0), pairs(0).getLong(1)) == ((1L, 2L)))
    assert(pairs(0).getDouble(2) > 0.5 && pairs(0).getDouble(2) < 1.0)
    // a stop-gram present in EVERY doc must not create candidates on its
    // own: with maxDf = 2, grams shared by all three docs are pruned
    val stopy = Seq((1L, "zzzz aaaa"), (2L, "zzzz bbbb"), (3L, "zzzz cccc"))
      .toDF("doc_id", "text")
    val pruned = Dedup.ngramJaccardNearDups(stopy, "text", "doc_id",
      n = 4, threshold = 0.1, maxDf = 2).collect()
    assert(pruned.isEmpty, pruned.mkString(","))
  }

  test("kdtree cells are balanced and deterministic") {
    val df = spark.range(2000).toDF("id")
      .withColumn("x", col("id") * 37 % 360 - 180)
      .withColumn("y", col("id") * 91 % 180 - 90)
    val tree = KdTree.build(df, "x", "y", 4, sampleRows = 1000, seed = 7L)
    val tree2 = KdTree.build(df, "x", "y", 4, sampleRows = 1000, seed = 7L)
    assert(tree == tree2, "same seed must give same tree")
    val cells = KdTree.withCell(df, "x", "y", tree)
      .groupBy("kdtree_cell").count().collect()
    assert(cells.length == 16)
    val counts = cells.map(_.getLong(1))
    assert(counts.max < counts.min * 3, s"cells should be balanced: ${counts.toSeq}")
    assert(cells.forall(_.getString(0).length == 4))
    assert(KdTree.autoIterations(100000000L, 100000L) == 10)
  }

  test("kdtree deep-tree cells: codegen expression at every depth, " +
      "driver-walk parity, no udf in the plan") {
    val df = spark.range(500).toDF("id")
      .withColumn("x", (col("id") * 37 % 360 - 180 + col("id") % 8 * 0.125)
        .cast("double"))
      .withColumn("y", (col("id") * 91 % 180 - 90).cast("double"))
    // depth 14 — past the old nested-when cutoff (10) that used to fall
    // back to a closure udf and break whole-stage codegen
    val tree = KdTree.build(df, "x", "y", 14, sampleRows = 400, seed = 3L)
    val out = KdTree.withCell(df, "x", "y", tree)
    val got = out.select("x", "y", "kdtree_cell").collect()
    got.foreach { r =>
      assert(r.getString(2) ==
        KdTree.cellOf(tree, r.getDouble(0), r.getDouble(1)))
      assert(r.getString(2).length == 14)
    }
    // "*(" marks whole-stage-codegen'd operators in the simple plan
    // string; the kdcell projection must carry it
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l =>
      l.contains("kdcell") && l.trim.startsWith("*(")), plan.take(400))
    assert(!plan.toLowerCase.contains("scalaudf"), "udf leaked into the plan")
    // flatten is O(nodes) and the walk matches on hand-built UNBALANCED
    // trees too (withCell is public API; nothing forces completeness)
    val lop = KdTree.Node(1.0, None, None)
    val ub = KdTree.Node(0.0,
      Some(KdTree.Node(-5.0, Some(lop), Some(KdTree.Node(2.0, None, None)))),
      None)
    val (s, l, r) = KdTree.flatten(ub)
    assert(s.length == 4 && l.length == 4 && r.length == 4)
    import spark.implicits._
    val pts = Seq((-6.0, -7.0), (-1.0, 3.0), (5.0, 0.0)).toDF("x", "y")
    val ubCells = KdTree.withCell(pts, "x", "y", ub).collect()
      .map(rr => (rr.getDouble(0), rr.getDouble(1)) -> rr.getString(2)).toMap
    pts.collect().foreach { rr =>
      val (x, y) = (rr.getDouble(0), rr.getDouble(1))
      assert(ubCells((x, y)) == KdTree.cellOf(ub, x, y), s"($x,$y)")
    }
  }

  test("grid spatial join reports each overlapping pair exactly once") {
    import graft.ops.SpatialJoin
    // envelopes spanning multiple cells, exact touches, disjoint rows
    val left = Seq(
      (1L, 0.0, 0.0, 5.0, 5.0),    // spans many cells
      (2L, 10.0, 10.0, 10.5, 10.5),
      (3L, -3.0, -3.0, -2.0, -2.0)
    ).toDF("id", "xmin", "ymin", "xmax", "ymax")
    val right = Seq(
      (101L, 4.0, 4.0, 6.0, 6.0),   // overlaps 1
      (102L, 5.0, 5.0, 7.0, 7.0),   // touches 1 at corner (inclusive)
      (103L, 10.4, 10.4, 11.0, 11.0), // overlaps 2
      (104L, 50.0, 50.0, 51.0, 51.0)  // disjoint
    ).toDF("id", "xmin", "ymin", "xmax", "ymax")
    val out = SpatialJoin.envelopeJoin(left, right, "id", "id", cellSize = 2.0)
    val pairs = out.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 101L), (1L, 102L), (2L, 103L)))
    // exactly once each — no duplicate reports from shared cells
    assert(out.count() == 3)
    // plan shape: hash/merge equi-join on the cell, never a broadcast
    // nested loop or cartesian product
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), plan.take(800))
  }

  test("connected components resolve chained and disjoint dup clusters") {
    // chain 1-2-3-4 (transitive, no direct 1-4 edge) + pair 10-11
    val pairs = Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 11L))
      .toDF("id_a", "id_b")
    val labels = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L))
    // a long path still converges within maxIter (diameter bound)
    val path = (1L until 12L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val chain = Dedup.connectedComponents(path)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(chain.values.toSet == Set(1L) && chain.size == 12)
  }

  /** `body` with connected components forced onto the distributed path. */
  private def distributedCc[T](body: => T): T =
    withConf("spark.sql.autoBroadcastJoinThreshold", "-1")(body)

  /** Whether `labels` came back as the local path's local relation. */
  private def isLocal(labels: org.apache.spark.sql.DataFrame): Boolean =
    labels.queryExecution.analyzed
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]

  test("connected components raise instead of returning unconverged labels") {
    // path 1-2-3-4: hash-to-min needs more than one round; only the
    // distributed path iterates, so only it can fail to converge
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("id_a", "id_b")
    distributedCc {
      val e = intercept[IllegalStateException](
        Dedup.connectedComponents(path, maxIter = 1))
      assert(e.getMessage.contains("maxIter = 1"), e.getMessage)
      val labels = Dedup.connectedComponents(path)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
    }
    // the local union-find has no rounds: exact min ids at maxIter = 1
    val local = Dedup.connectedComponents(path, maxIter = 1)
    assert(isLocal(local))
    assert(local.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
  }

  test("connected components: the local union-find and the distributed " +
      "hash-to-min loop give identical rows and schema") {
    // one seeded graph: a chain longer than 20 hops, a star, self-pairs,
    // duplicate and reversed pairs, and random sparse edges, over
    // shuffled ids so the minimum sits anywhere in each component
    def graph(seed: Int): Seq[(Long, Long)] = {
      val rnd = new scala.util.Random(seed)
      val ids = rnd.shuffle((1L to 400L).toVector).map(_ * 7 + seed)
      val chain = (0 until 24 + rnd.nextInt(8)).map(i => (ids(i), ids(i + 1)))
      val star = (41 until 41 + 5 + rnd.nextInt(10)).map(i => (ids(40), ids(i)))
      val selfs = (60 until 64).map(i => (ids(i), ids(i)))
      val loose = Seq.fill(40)((ids(100 + rnd.nextInt(200)), ids(100 + rnd.nextInt(200))))
      val all = chain ++ star ++ selfs ++ loose
      val dups = Seq.fill(8)(all(rnd.nextInt(all.size)))
      val flipped = Seq.fill(8)(all(rnd.nextInt(all.size))).map(_.swap)
      rnd.shuffle(all ++ dups ++ flipped)
    }
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq.sorted
    for (seed <- 1 to 4) {
      val g = graph(seed)
      val asInt = seed % 2 == 1
      val pairs = if (asInt) g.map { case (a, b) => (a.toInt, b.toInt) }.toDF("id_a", "id_b")
        else g.toDF("id_a", "id_b")
      val local = Dedup.connectedComponents(pairs, maxIter = 64)
      val dist = distributedCc(Dedup.connectedComponents(pairs, maxIter = 64))
      assert(isLocal(local) && !isLocal(dist), s"seed $seed int $asInt")
      assert(local.schema == dist.schema, s"seed $seed int $asInt")
      assert(rows(local) == rows(dist), s"seed $seed int $asInt")
      // and both are the component minimum
      val byLabel = local.collect().groupBy(_.get(1)).map { case (k, rs) =>
        k.asInstanceOf[Number].longValue -> rs.map(_.get(0).asInstanceOf[Number].longValue) }
      byLabel.foreach { case (k, members) => assert(members.min == k, s"seed $seed") }
    }
  }

  test("connected components: null ids and string ids keep the distributed " +
      "path's rows") {
    val withNull = Seq[(Option[Long], Option[Long])]((Some(5L), None), (Some(3L), Some(5L)),
      (None, Some(9L)), (Some(9L), Some(8L)), (None, None)).toDF("id_a", "id_b")
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq.sorted
    val viaDefault = Dedup.connectedComponents(withNull)
    val viaLoop = distributedCc(Dedup.connectedComponents(withNull))
    assert(isLocal(viaDefault) && !isLocal(viaLoop))
    assert(viaDefault.schema == viaLoop.schema)
    // a null id is never a node: no (null, 5) row, whose label would be
    // no component's minimum
    val want = Seq("[3,3]", "[5,3]", "[8,8]", "[9,8]")
    assert(rows(viaDefault) == want && rows(viaLoop) == want,
      s"${rows(viaDefault)} / ${rows(viaLoop)}")
    // a one-null pair alone still gives its id its own row
    val lone = Seq[(Option[Long], Option[Long])]((Some(7L), None)).toDF("id_a", "id_b")
    assert(rows(Dedup.connectedComponents(lone)) == Seq("[7,7]"))
    assert(rows(distributedCc(Dedup.connectedComponents(lone))) == Seq("[7,7]"))
    // string ids are not integral: the distributed loop, still min labels
    val strs = Seq(("b", "c"), ("c", "d"), ("x", "y"), ("a", "a")).toDF("id_a", "id_b")
    val labels = Dedup.connectedComponents(strs)
    assert(!isLocal(labels))
    assert(labels.collect().map(r => r.getString(0) -> r.getString(1)).toMap ==
      Map("a" -> "a", "b" -> "b", "c" -> "b", "d" -> "b", "x" -> "x", "y" -> "x"))
  }

  test("connected components on a small pair set run at most 4 Spark jobs") {
    val pairs = (1L until 30L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val (labels, jobs) = jobsDuring(Dedup.connectedComponents(pairs).collect())
    assert(jobs <= 4, s"connectedComponents ran $jobs jobs")
    assert(labels.length == 30 && labels.forall(_.getLong(1) == 1L))
  }

  test("multimodal decode keeps schema and is partition-local") {
    val df = spark.range(100).toDF("media_id")
      .withColumn("payload", encode(concat(lit("data"), col("media_id")), "UTF-8"))
      .withColumn("media_type",
        when(col("media_id") % 2 === 0, "image").otherwise("video"))
    val decoded = Multimodal.withDecodedMeta(df, "payload", "media_type")
    assert(decoded.schema.fieldNames.contains("media_meta"))
    val rows = decoded.select("media_meta.width", "media_meta.n_frames",
      "media_type").collect()
    assert(rows.forall(_.getInt(0) >= 16))
    assert(rows.filter(_.getString(2) == "image").forall(_.getInt(1) == 1))
    // frame sampling explodes video payloads deterministically
    val frames = Multimodal.sampleFrames(df, "payload", "media_id", everyN = 10)
    assert(frames.count() == 300) // 3 sampled frames per payload
    val again = Multimodal.sampleFrames(df, "payload", "media_id", everyN = 10)
    def key(r: org.apache.spark.sql.Row): String =
      s"${r.getLong(0)}:${r.getInt(1)}:${r.getAs[Array[Byte]](2).map("%02x".format(_)).mkString}"
    assert(frames.collect().map(key).sorted
      .sameElements(again.collect().map(key).sorted))
  }

  test("aHash round-trip: decoded-pixel hash equals the classLum formula; " +
      "banded near-dup join equals brute-force Hamming") {
    // formula-side aHash (what the SQL oracle computes)
    def formulaHash(id: Long, classes: Int): (Long, Long) = {
      val lums = (0 until 64).map { p =>
        val base = Multimodal.classLum(id % classes, p)
        (if (p == (id % 64).toInt) base ^ 1 else base).toLong
      }
      val s = lums.sum
      var hi = 0L; var lo = 0L
      for (p <- 0 until 64 if lums(p) * 64 >= s)
        if (p < 32) lo |= 1L << p else hi |= 1L << (p - 32)
      (hi, lo)
    }
    import spark.implicits._
    val ids = (0L until 90L).toDF("doc_id")
    val sig = Multimodal.withAHash(
        Multimodal.withSyntheticClassPng(ids, "doc_id", classes = 7),
        "payload")
      .select(col("doc_id"), col("ahash_hi"), col("ahash_lo"))
    val got = sig.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    (0L until 90L).foreach { id =>
      assert(got(id) == formulaHash(id, 7), s"doc $id")
    }
    // brute-force Hamming ≤ 3 over the formula hashes
    val want = (for {
      a <- 0L until 90L; b <- (a + 1) until 90L
      (ha, la) = formulaHash(a, 7); (hb, lb) = formulaHash(b, 7)
      d = java.lang.Long.bitCount(ha ^ hb) + java.lang.Long.bitCount(la ^ lb)
      if d <= 3
    } yield (a, b, d.toLong)).toSet
    val pairs = Multimodal.phashNearDups(sig, "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(pairs == want, s"got ${pairs.size} pairs, want ${want.size}")
    assert(want.nonEmpty, "fixture must produce near-dup pairs")
  }

  test("phash hot-band df-cap: pairs survive one hot band via cold bands; " +
      "pairs whose every agreeing band is hot are dropped (documented recall)") {
    import spark.implicits._
    // bands of (hi, lo): b0 = lo & 0xffff, b1 = lo >> 16, b2 = hi & 0xffff,
    // b3 = hi >> 16 — aHash packs 64 pixel bits into the LOW 32 bits of
    // each half, so test hashes stay in [0, 2^32)
    def sig(rows: Seq[(Long, Long, Long)]) =
      rows.toDF("doc_id", "ahash_hi", "ahash_lo")
    def far(i: Int): Long = // pairwise-distant 32-bit patterns
      ((0x9e3779b9L * (i + 7)) & 0xffff0000L) | (0x5bd1e995L * i & 0xffffL)

    // pair A: (200, 201) at Hamming 1 (bit 63 = band 3); their band-0
    // bucket is made hot by 6 fillers sharing lo&0xffff but far elsewhere
    val loA = 0x00001234L
    val hiA = 0x00010001L
    val pairA = Seq((200L, hiA, loA), (201L, hiA | (1L << 31), loA))
    val fillersB0 = (0 until 6).map(i =>
      (210L + i, far(i) | (1L << 30), (far(i + 100) & 0xffff0000L) | 0x1234L))

    // pair B: (300, 301) identical hashes (Hamming 0); ALL four of their
    // band buckets made hot by per-band filler groups (each filler far
    // from everything else, so no extra near-dup pairs)
    val hiB = 0x00420099L; val loB = 0x00770055L
    val pairB = Seq((300L, hiB, loB), (301L, hiB, loB))
    val fillersAllBands = (0 until 6).flatMap { i =>
      Seq(
        (320L + i, far(i + 20) | (1L << 29), (far(i + 120) & 0xffff0000L) | (loB & 0xffffL)),
        (330L + i, far(i + 30) | (1L << 28), (loB & 0xffff0000L) | (far(i + 130) & 0xffffL)),
        (340L + i, (far(i + 40) & 0xffff0000L) | (hiB & 0xffffL), far(i + 140) | (1L << 27)),
        (350L + i, (hiB & 0xffff0000L) | (far(i + 50) & 0xffffL), far(i + 150) | (1L << 26)))
    }
    val all = sig(pairA ++ fillersB0 ++ pairB ++ fillersAllBands)
    def pairsAt(cap: Int): Set[(Long, Long)] = {
      val rows = Multimodal
        .phashNearDups(all, "doc_id", maxHamming = 3, maxBandDf = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      // ownership kernel contract: a pair agreeing on several surviving
      // bands is emitted EXACTLY once — duplicates would hide in toSet
      assert(rows.length == rows.toSet.size,
        s"duplicate pair emissions: ${rows.mkString(",")}")
      rows.toSet
    }
    // uncapped-equivalent (cap above any bucket): both pairs found,
    // fillers contribute nothing
    assert(pairsAt(1000) == Set((200L, 201L), (300L, 301L)))
    // cap 5: band-0 of pair A is hot (8 docs) but bands 1-3 are cold →
    // pair A survives; every band of pair B is hot (8 docs each) → pair
    // B is dropped whole — the documented recall tradeoff
    assert(pairsAt(5) == Set((200L, 201L)))
  }

  test("video frame-hash df-cap: boilerplate frames above the cap stop " +
      "counting toward minShared") {
    import spark.implicits._
    // videos 1,2 share two COLD frames; videos 3,4 share one cold frame
    // plus the HOT (black) frame carried by 10 more videos
    val hot = (0x0badL, 0xcafeL)
    val fh = (Seq(
      (1L, 0x10L, 0x11L), (1L, 0x20L, 0x21L),
      (2L, 0x10L, 0x11L), (2L, 0x20L, 0x21L),
      (3L, 0x30L, 0x31L), (3L, hot._1, hot._2),
      (4L, 0x30L, 0x31L), (4L, hot._1, hot._2)) ++
      (10 until 20).map(i => (i.toLong, hot._1, hot._2)))
      .toDF("doc_id", "frame_hi", "frame_lo")
    def pairsAt(cap: Int): Map[(Long, Long), Long] =
      Multimodal.videoNearDups(fh, "doc_id", minShared = 2, maxPostings = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // cap above the hot frame's 12 postings: both pairs, hot frame counts
    assert(pairsAt(1000) == Map((1L, 2L) -> 2L, (3L, 4L) -> 2L))
    // cap 5 (round-17 prefix-filter + exact-count rule): candidate
    // GENERATION and shared-frame COUNTING are decoupled. The hot
    // (black) frame is each carrier's hottest, so no video indexes it
    // (prefix exclusion of the minShared-1 hottest) and the 10
    // hot-frame-only videos can never pair; videos 3,4 still meet via
    // their cold frame's bucket, and the exact-count join-back then
    // counts the hot frame toward their TRUE overlap — shared_frames
    // reads 2, where the r16 ratio rule under-reported 1. Emission
    // stays bounded (no bucket over the cap ever expands) while the
    // count stays exact.
    assert(pairsAt(5) == Map((1L, 2L) -> 2L, (3L, 4L) -> 2L))
  }

  test("phash/video recall self-report equals the operator's measured " +
      "recall on a planted Zipf fixture (VERDICT r15 #3)") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // --- phash: 600 docs, Zipf-ish band values, 60 planted partners ----
    def v(): Long = (1 + rnd.nextInt(40)).toLong * 2654435761L & 0xffffL
    def draw(): Long = v() | (v() << 16) | (v() << 32) | (v() << 48)
    val base = Array.tabulate(600)(i => (i.toLong, draw()))
    val planted = Array.tabulate(60) { j =>
      val a = rnd.nextInt(600)
      var h = base(a)._2
      (1 to 1 + rnd.nextInt(3)).foreach(_ => h ^= 1L << rnd.nextInt(64))
      ((600 + j).toLong, h, base(a)._1)
    }
    val sig = (base.map { case (id, h) => (id, h >>> 32, h & 0xffffffffL) }
      ++ planted.map { case (id, h, _) => (id, h >>> 32, h & 0xffffffffL) })
      .toSeq.toDF("doc_id", "ahash_hi", "ahash_lo")
    val refs = planted.map(p => (p._1, p._3)).toSeq.toDF("id_a", "id_b")
    for (cap <- Seq(8, 64)) {
      val found = Multimodal.phashNearDups(sig, "doc_id", 3, maxBandDf = cap)
        .collect()
        .map(r => (math.min(r.getLong(0), r.getLong(1)),
          math.max(r.getLong(0), r.getLong(1)))).toSet
      val hit = planted.count(p =>
        found.contains((math.min(p._1, p._3), math.max(p._1, p._3))))
      val rep = Multimodal.phashRecallReport(sig, "doc_id", refs, 3, cap)
        .head()
      assert(rep.getLong(0) == 60L)
      assert(rep.getLong(1) == hit.toLong,
        s"phash report ${rep.getLong(1)} != measured $hit at cap $cap")
    }
    // --- video: 150 videos x 8 frames, 30 planted sharing 4 ------------
    def frame(): Long = (1 + rnd.nextInt(600)).toLong * 0x9e3779b97f4a7c15L
    val vbase = Array.tabulate(150)(i => (i.toLong, Array.fill(8)(frame()).distinct))
    val vplanted = Array.tabulate(30) { j =>
      val a = rnd.nextInt(150)
      val shared = rnd.shuffle(vbase(a)._2.toList).take(4)
      ((150 + j).toLong, (shared ++ Array.fill(5)(frame())).distinct.toArray,
        vbase(a)._1)
    }
    val fh = (vbase.iterator.flatMap { case (id, fs) => fs.map(f => (id, f)) }
      ++ vplanted.iterator.flatMap { case (id, fs, _) => fs.map(f => (id, f)) })
      .map { case (id, f) => (id, f >>> 32, f & 0xffffffffL) }
      .toSeq.toDF("doc_id", "frame_hi", "frame_lo")
    val vrefs = vplanted.map(p => (p._1, p._3)).toSeq.toDF("id_a", "id_b")
    for (cap <- Seq(4, 16)) {
      val found = Multimodal.videoNearDups(fh, "doc_id", minShared = 3,
          maxPostings = cap)
        .collect()
        .map(r => (math.min(r.getLong(0), r.getLong(1)),
          math.max(r.getLong(0), r.getLong(1)))).toSet
      val hit = vplanted.count(p =>
        found.contains((math.min(p._1, p._3), math.max(p._1, p._3))))
      val rep = Multimodal.videoRecallReport(fh, "doc_id", vrefs, 3, cap)
        .head()
      assert(rep.getLong(0) == 30L)
      assert(rep.getLong(1) == hit.toLong,
        s"video report ${rep.getLong(1)} != measured $hit at cap $cap")
      assert(rep.getDouble(2) == hit.toDouble / 30.0)
    }
    // --- ngram: 200 docs x 30 Zipf-ish tokens, 25 planted partners ----
    def tok(): String = "w" + (1 + rnd.nextInt(300))
    val tbase = Array.tabulate(200)(i =>
      (i.toLong, Array.fill(30)(tok()).mkString(" ")))
    val tplanted = Array.tabulate(25) { j =>
      val a = rnd.nextInt(200)
      val ts = tbase(a)._2.split(" ")
      ts(rnd.nextInt(ts.length)) = tok()
      ((200 + j).toLong, ts.mkString(" "), tbase(a)._1)
    }
    val docs = (tbase.map(t => (t._1, t._2)) ++
      tplanted.map(t => (t._1, t._2))).toSeq.toDF("doc_id", "text")
    val trefs = tplanted.map(p => (p._1, p._3)).toSeq.toDF("id_a", "id_b")
    for (cap <- Seq(8, 64)) {
      val found = graft.ops.Dedup.ngramJaccardNearDups(docs, "text",
          "doc_id", n = 4, threshold = 0.5, maxDf = cap)
        .collect()
        .map(r => (math.min(r.getLong(0), r.getLong(1)),
          math.max(r.getLong(0), r.getLong(1)))).toSet
      val hit = tplanted.count(p =>
        found.contains((math.min(p._1, p._3), math.max(p._1, p._3))))
      val rep = graft.ops.Dedup.ngramRecallReport(docs, "text", "doc_id",
        trefs, n = 4, threshold = 0.5, maxDf = cap).head()
      assert(rep.getLong(0) == 25L)
      assert(rep.getLong(1) == hit.toLong,
        s"ngram report ${rep.getLong(1)} != measured $hit at cap $cap")
    }
  }

  test("real image decode: png/jpeg/bmp round-trip, corrupt falls to stub") {
    // real JDK decoders: dimensions must come out of the encoded header
    val png = Multimodal.encodePng(5, 3, seed = 42L)
    assert(Multimodal.decodeImage(png).contains((5, 3)))
    // same pixels through the JPEG and BMP writers
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
    for (fmt <- Seq("jpg", "bmp", "gif")) {
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, bos), s"no $fmt writer")
      assert(Multimodal.decodeImage(bos.toByteArray).contains((5, 3)), fmt)
    }
    // non-image bytes -> None -> withDecodedMeta falls back to the stub
    assert(Multimodal.decodeImage("not an image".getBytes).isEmpty)
    assert(Multimodal.decodeImage(null).isEmpty)
    val df = Seq((1L, png), (2L, "junk".getBytes))
      .toDF("media_id", "payload").withColumn("media_type", lit("image"))
    val metas = Multimodal.withDecodedMeta(df, "payload", "media_type")
      .select(col("media_id"), col("media_meta.width"), col("media_meta.height"))
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
    assert(metas(1L) == ((5, 3)))          // real decode
    assert(metas(2L) == ((16 + 'j', 16 + 'u'))) // stub: byte-derived dims
  }

  test("asof join: inclusive match, carry-forward, null before first right") {
    import java.sql.Timestamp
    def ts(s: Long) = new Timestamp(s * 1000)
    val left = Seq(
      (1L, 10L, ts(100)), // before any right row -> null
      (2L, 10L, ts(200)), // equal ts -> inclusive match r@200
      (3L, 10L, ts(350)), // carry forward r@300
      (4L, 20L, ts(500))  // other key, matches its own right r@450
    ).toDF("event_id", "user_id", "ts")
    val right = Seq(
      (10L, ts(200), 1.0), (10L, ts(300), 2.0), (20L, ts(450), 9.0))
      .toDF("user_id", "ts", "value")
    val out = graft.ops.AsOf.join(left, right, "user_id", "ts", "ts",
        Map("value" -> "matched"))
      .orderBy("event_id").collect()
    // output column order: key, leftTs, remaining left cols, payload
    assert(out.map(r => Option(r.get(3))).toSeq ==
      Seq(None, Some(1.0), Some(2.0), Some(9.0)))
    assert(out.map(_.getLong(0)).toSeq == Seq(10L, 10L, 10L, 20L))
  }

  test("asof join: a NULL payload on the matched row stays NULL (no " +
      "resurrection of an older non-null value)") {
    import java.sql.Timestamp
    def ts(s: Long) = new Timestamp(s * 1000)
    val left = Seq((1L, 10L, ts(300))).toDF("event_id", "user_id", "ts")
    val right = Seq(
      (10L, ts(100), Some(5.0)),
      (10L, ts(200), None: Option[Double])) // the ASOF match for ts=300
      .toDF("user_id", "ts", "value")
    val out = graft.ops.AsOf.join(left, right, "user_id", "ts", "ts",
      Map("value" -> "matched")).collect()
    // DuckDB ASOF matches the ts=200 row and returns ITS null — a
    // last(ignoreNulls) over the raw column returned 5.0 instead
    assert(out.length == 1 && out.head.isNullAt(3),
      s"expected the matched row's NULL, got ${out.head.get(3)}")
  }

  test("cosine pins zero vectors to 0.0 so they can't NaN-poison top-k") {
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.9f, 0.1f)),
      (3L, Array(0.0f, 0.0f))) // failed-decode stub: all-zero embedding
      .toDF("vec_id", "embedding")
    val top = Ann.bruteTopK(corpus, "embedding", "vec_id",
      Array(1.0f, 0.0f), 3).collect()
    // NaN sorts above +Inf in Spark's descending order — before the
    // pinning, vec 3 ranked #1 in every result
    assert(top.head.getLong(0) == 1L, s"rank 1: ${top.head}")
    assert(top.last.getLong(0) == 3L &&
      top.last.getDouble(top.last.length - 1) == 0.0,
      s"zero vector must rank last with sim 0.0: ${top.last}")
    assert(Ann.cosineArrays(Array(0.0f), Array(1.0f)) == 0.0)
  }

  test("truncated GIF containers return None instead of throwing") {
    val good = Multimodal.encodeGrayGif(
      Array(Array.tabulate(64)(i => i * 4), Array.tabulate(64)(i => 255 - i)),
      8, 8)
    assert(Multimodal.parseGifGrayFrames(good).exists(_.length == 2))
    // cut the container at every prefix length: none may throw, and a
    // Some result may only surface complete frames
    (1 until good.length).foreach { n =>
      val r = Multimodal.parseGifGrayFrames(java.util.Arrays.copyOf(good, n))
      r.foreach(fs => assert(fs.forall(_.length == 64), s"cut at $n"))
    }
  }

  test("sorted_pairs_gen streams the exact eager triangle: equivalence " +
      "on random lists, null-id refusal, null/empty inputs") {
    import graft.functions.SketchExpressions
    val rnd = new scala.util.Random(15L)
    // property: generator rows == eager array rows, order included
    // (both emit the value-sorted incl-self-pairs triangle)
    for (_ <- 1 to 50) {
      val n = rnd.nextInt(12)
      val ids = Seq.fill(n)(rnd.nextLong() % 100)
      val df = Seq(Tuple1(ids)).toDF("ids")
      val eager = df
        .select(explode(SketchExpressions.sorted_pairs($"ids")).as("p"))
        .select($"p".getItem(0), $"p".getItem(1))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val gen = df
        .select(SketchExpressions.sorted_pairs_gen($"ids").as(Seq("a", "b")))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(gen == eager, s"ids=$ids")
      assert(gen.size == n * (n + 1) / 2)
    }
    // a null ROW produces no pairs (generator null contract)
    assert(Seq(Tuple1(null: Seq[Long])).toDF("ids")
      .select(SketchExpressions.sorted_pairs_gen($"ids").as(Seq("a", "b")))
      .count() == 0)
    // a null ELEMENT fails loudly, never fabricates a 0-id pair
    val ex = intercept[Exception] {
      Seq(Tuple1(Seq[Option[Long]](Some(1L), None))).toDF("ids")
        .select(SketchExpressions.sorted_pairs_gen($"ids").as(Seq("a", "b")))
        .collect()
    }
    def rootOf(t: Throwable): Throwable =
      if (t.getCause == null || t.getCause == t) t else rootOf(t.getCause)
    assert(rootOf(ex).getMessage.contains("null element"))
  }

  test("pq moments aggregate runs map-side partial (no row explode in " +
      "the plan) and matches the explode+groupBy formulation") {
    import graft.functions.SketchExpressions
    val rnd = new scala.util.Random(63L)
    val (m, k, dims) = (4, 4, 16)
    val sub = dims / m
    val vecs = Seq.tabulate(40)(i =>
      (i.toLong, Array.fill(dims)((rnd.nextDouble() * 2 - 1).toFloat).toSeq))
    val df = vecs.toDF("vec_id", "embedding").repartition(4)
    val cb = graft.ops.Pq.trainCodebooks(df, "embedding", "vec_id", m, k, dims)
    assert(cb.length == m && cb.forall(_.length == k) &&
      cb.forall(_.forall(_.length == sub)))
    // reference formulation: explode per dim, round(x*Scale) sums — the
    // pre-round-15 shape, kept here as the oracle for the fused aggregate
    val enc = df.select(
      SketchExpressions.pq_encode($"embedding",
        Array.tabulate(m)(s => graft.ops.Ann
          .ivfCentroids(df, "embedding", "vec_id", k)
          .map(v => v.slice(s * sub, (s + 1) * sub).map(_.toDouble))))
        .as("codes"),
      posexplode($"embedding").as(Seq("i", "x")))
      .select(($"i" / sub).cast("int").as("s"), $"i", $"x",
        element_at($"codes", ($"i" / sub).cast("int") + 1).as("c"))
      .groupBy($"s", $"c", $"i")
      .agg(sum(round($"x".cast("double") * graft.ops.KMeans.Scale)
        .cast("long")).as("sum"), count(lit(1)).as("n"))
      .collect()
    enc.foreach { r =>
      val s = r.getInt(0); val c = r.getInt(1); val i = r.getInt(2)
      val expect = r.getLong(3).toDouble / (r.getLong(4) * graft.ops.KMeans.Scale)
      assert(math.abs(cb(s)(c)(i - s * sub) - expect) < 1e-12,
        s"s=$s c=$c i=$i: ${cb(s)(c)(i - s * sub)} != $expect")
    }
    // plan: the refinement must be ONE partial+final aggregate over the
    // scan — no Generate (posexplode) node, no key exchange beyond the
    // single-group final
    val agg = df.agg(graft.ops.LongVectorAgg.column(graft.ops.Pq.PqMoments(m, k, sub),
      SketchExpressions.pq_encode($"embedding", cb), $"embedding").as("mo"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("Generate"), plan)
    assert(plan.contains("partial_pq_moments"),
      s"expected a partial pq_moments aggregation stage:\n$plan")
  }

  test("each long-vector aggregate plans as one partial plus one final " +
      "aggregate under its name, and its buffer is big-endian longs") {
    import org.apache.spark.sql.catalyst.expressions.aggregate.{Final, Partial}
    import org.apache.spark.sql.execution.GenerateExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import graft.ops.{LogReg, LongVectorAgg, Pca, Pq}
    val df = spark.range(0, 8).repartition(2).select(
      array(struct($"id", lit(1L))).as("fs"), lit(0.25).as("r"),
      md5($"id".cast("string")).as("h"),
      array(Seq.tabulate(4)(j => ($"id" + j).cast("float")): _*).as("v"),
      array(lit(0), lit(1)).as("codes"))
    val cases = Seq(
      "grad_array" -> LongVectorAgg.column(LogReg.GradArray(8), $"fs", $"r"),
      "bloom_bitmap" -> LongVectorAgg.column(Dedup.BloomBitmap(128, 2), $"h"),
      "pca_moments" -> LongVectorAgg.column(Pca.CovMoments(4), $"v"),
      "pq_moments" -> LongVectorAgg.column(Pq.PqMoments(2, 2, 2), $"codes", $"v"))
    for ((name, c) <- cases) {
      val agg = df.agg(c.as("x"))
      val plan = withConf("spark.sql.adaptive.enabled", "false")(
        agg.queryExecution.executedPlan)
      val aggs = plan.collect { case a: BaseAggregateExec =>
        a.aggregateExpressions.map(e => (e.mode, e.aggregateFunction.prettyName))
      }.flatten
      assert(aggs.toSet == Set((Partial, name), (Final, name)) && aggs.size == 2,
        s"$name: $aggs\n$plan")
      assert(plan.collect { case g: GenerateExec => g }.isEmpty, s"$name:\n$plan")
      assert(agg.first().getSeq[Long](0).exists(_ != 0L), name)
    }
    val lv = LongVectorAgg(Nil, Pq.PqMoments(1, 1, 1))
    val bytes = lv.serialize(Array(1L, -2L))
    val bb = java.nio.ByteBuffer.allocate(16).putLong(1L).putLong(-2L)
    assert(bytes.sameElements(bb.array()))
    assert(lv.deserialize(bytes).sameElements(Array(1L, -2L)))
    // folds are case classes: equal parameters, equal aggregates
    assert(LongVectorAgg(Nil, Pca.CovMoments(4)) == LongVectorAgg(Nil, Pca.CovMoments(4)))
  }

  test("kernel misuse fails loudly: bad params, null elements, wrong types") {
    import graft.functions.SketchExpressions
    // k/window validation at expression construction
    intercept[IllegalArgumentException](
      SketchExpressions.winnow(lit("a b c d"), 3, 0))
    intercept[IllegalArgumentException](
      SketchExpressions.word_shingles(lit("a b"), 0))
    intercept[IllegalArgumentException](
      SketchExpressions.token_blocks(lit("a b"), 0))
    // null id element must not fabricate a (0, id) pair
    val ex = intercept[Exception] {
      Seq(Tuple1(Seq[Option[Long]](Some(1L), None))).toDF("ids")
        .select(SketchExpressions.sorted_pairs($"ids")).collect()
    }
    def root(t: Throwable): Throwable =
      if (t.getCause == null || t.getCause == t) t else root(t.getCause)
    assert(root(ex).getMessage.contains("null element"), root(ex).getMessage)
    // SQL surface: precision argument is honored, arg order matches the
    // Scala builder, and a wrong-typed geometry fails at analysis
    graft.functions.geo.register(spark)
    graft.functions.text.register(spark)
    val gj = spark.sql(
      "SELECT st_asgeojson(st_point(1.23456789, 2.0), 2) AS g").head.getString(0)
    assert(gj.contains("1.23") && !gj.contains("1.2345"), gj)
    val st = spark.sql(
      "SELECT span_stats(array(0, 5), 3, 10) AS s").head.getSeq[Long](0)
    assert(st.nonEmpty) // (starts, k, nTokens) — the Scala builder order
    intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT st_x(42)").collect())
  }

  test("exact dedup keeps one row per normalized content") {
    val df = Seq(
      (1L, "Hello,   World!"), (2L, "hello world"), (3L, "different text"))
      .toDF("doc_id", "text")
    val out = Dedup.exact(df, "text", "doc_id").collect()
    assert(out.length == 2)
    assert(out.map(_.getLong(0)).toSet == Set(1L, 3L))
  }

  test("topk perGroup equals the window formulation, bounded state") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    // 40 partitions of a 5000-row table with 3 skewed groups exercises
    // the partial-heap merge path (k rows survive per group per task).
    val df = spark.range(5000).toDF("id")
      .withColumn("grp", when($"id" % 10 < 7, "a")
        .when($"id" % 10 < 9, "b").otherwise("c"))
      .withColumn("score", ($"id" * 2654435761L % 100003).cast("double"))
      .repartition(40)
    val got = graft.ops.TopK.perGroup(df, Seq("grp"),
        Seq(($"score", true), ($"id", false)), 7, "rn")
      .select($"grp", $"rn", $"id", $"score")
    val w = Window.partitionBy($"grp").orderBy($"score".desc, $"id".asc)
    val want = df.withColumn("rn", row_number().over(w)).filter($"rn" <= 7)
      .select($"grp", $"rn", $"id", $"score")
    assert(got.count() == 21)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // plan shape: aggregation with map-side partial, no window exec
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("partial_top_k_rows"))
    assert(!plan.contains("Window"))
  }

  test("batch ann: broadcast queries, heap aggregation, exact ranks") {
    import org.apache.spark.sql.functions._
    val corpus = spark.range(100, 400).toDF("vec_id")
      .withColumn("embedding", array((0 until 8).map(i =>
        ((pmod($"vec_id" * (i + 3), lit(97)) + 1) / 98.0)): _*)
        .cast("array<float>"))
    val queries = spark.range(1, 5).toDF("vec_id")
      .withColumn("embedding", array((0 until 8).map(i =>
        ((pmod($"vec_id" * (i + 5), lit(89)) + 1) / 90.0)): _*)
        .cast("array<float>"))
    val out = graft.ops.Ann.bruteTopKBatch(corpus, queries,
      "embedding", "vec_id", "vec_id", "embedding", k = 3)
    val rows = out.collect()
    assert(rows.length == 12) // 4 queries x 3 ranks
    assert(rows.map(r => (r.getLong(0), r.getInt(1))).toSet ==
      (for (q <- 1L to 4L; r <- 1 to 3) yield (q, r)).toSet)
    // ranks are consistent with descending sim within each query
    rows.groupBy(_.getLong(0)).values.foreach { g =>
      val byRank = g.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b })
    }
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("partial_top_k_rows") && !plan.contains("Window"))
  }

  test("batch lsh ann agrees with per-query lsh search, no cross join") {
    import org.apache.spark.sql.functions._
    val corpus = spark.range(100, 600).toDF("vec_id")
      .withColumn("embedding", array((0 until 16).map(i =>
        ((pmod($"vec_id" * (i + 3), lit(97)) + 1) / 98.0 - 0.5)): _*)
        .cast("array<float>"))
    val queries = spark.range(1, 4).toDF("vec_id")
      .withColumn("embedding", array((0 until 16).map(i =>
        ((pmod($"vec_id" * (i + 5), lit(89)) + 1) / 90.0 - 0.5)): _*)
        .cast("array<float>"))
    val batch = graft.ops.Ann.lshTopKBatch(corpus, queries,
      "embedding", "vec_id", "vec_id", "embedding", k = 5, bits = 8)
    val got = batch.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    // per-query reference: same buckets, same ranks
    val want = (1L until 4L).flatMap { qid =>
      val qv = queries.filter($"vec_id" === qid)
        .select($"embedding").collect()(0).getSeq[Float](0).toArray
      graft.ops.Ann.lshTopK(corpus, "embedding", "vec_id", qv, k = 5, bits = 8)
        .collect().zipWithIndex
        .map { case (r, i) => (qid, i + 1, r.getLong(0)) }
    }.toSet
    assert(got == want)
    val plan = batch.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"))
    assert(plan.contains("partial_top_k_rows"))
  }

  test("multimodal resize and feature extraction: contracts + ann handoff") {
    import org.apache.spark.sql.functions._
    val df = spark.range(0, 50).toDF("id")
      .withColumn("payload", encode(concat(lit("media-"),
        col("id"), lit("-" + "z" * 100)), "UTF-8"))
    val resized = graft.ops.Multimodal.withResized(df, "payload", 8, 8)
    val sizes = resized.select(octet_length(col("payload"))).distinct().collect()
    assert(sizes.map(_.getInt(0)).toSeq == Seq(64)) // exactly targetW*targetH
    val feat = graft.ops.Multimodal.withFeatures(df, "payload", dims = 16)
    val rows = feat.select(col("id"), col("embedding")).collect()
    assert(rows.forall(_.getSeq[Float](1).length == 16))
    // unit norm (nonzero payloads) and deterministic across runs
    val norms = rows.map(_.getSeq[Float](1).map(v => v.toDouble * v).sum)
    assert(norms.forall(n => math.abs(n - 1.0) < 1e-5))
    val again = graft.ops.Multimodal.withFeatures(df, "payload", dims = 16)
      .select(col("id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(rows.forall(r => again(r.getLong(0)) == r.getSeq[Float](1)))
    // the embedding column feeds the ANN surface directly
    val q = rows.head.getSeq[Float](1).toArray
    val top = graft.ops.Ann.bruteTopK(feat, "embedding", "id", q, k = 3)
    assert(top.count() == 3)
  }

  test("real resize: decode -> center-rule NN -> PNG re-encode matches an " +
      "independently computed expectation; opaque payloads keep the stub") {
    val M = graft.ops.Multimodal
    // known 8x8 gray fixture (the classLum formula, no noise pixel)
    val lums = Array.tabulate(64)(p => M.classLum(7L, p))
    val png = M.encodeGrayPng(lums, 8, 8)
    val out = M.resizeImage(png, 4, 4).get
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(out))
    assert(img.getWidth == 4 && img.getHeight == 4)
    for (y <- 0 until 4; x <- 0 until 4) {
      // independent expectation: the center rule on the SOURCE formula
      val sx = ((2 * x + 1) * 8) / 8
      val sy = ((2 * y + 1) * 8) / 8
      val expect = lums(sy * 8 + sx)
      assert((img.getRGB(x, y) & 0xff) == expect,
        s"($x,$y): got ${img.getRGB(x, y) & 0xff}, want $expect")
    }
    // rectangular + upscale paths: dims come out exact, every sampled
    // index stays in range (the require/clamp contract)
    val rect = M.resizeImage(png, 3, 5).get
    val rimg = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(rect))
    assert(rimg.getWidth == 3 && rimg.getHeight == 5)
    val up = M.resizeImage(png, 16, 16).get
    val uimg = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(up))
    assert(uimg.getWidth == 16 && uimg.getHeight == 16)
    // upscale NN: pixel (2x, 2y) samples source (x, y) under the center
    // rule at 8->16 (sx = (2*(2x)+1)*8/32 = (4x+1)/4 = x)
    assert((uimg.getRGB(0, 0) & 0xff) == lums(0))
    // opaque bytes: no decode -> stub path, exact targetW*targetH bytes
    assert(M.resizeImage("not an image".getBytes, 4, 4).isEmpty)
    assert(M.resizeStub("not an image".getBytes, 4, 4).length == 16)
  }

  test("topk handles groups smaller than k and duplicate order keys") {
    import org.apache.spark.sql.functions._
    val df = Seq(("a", 1L, 5.0), ("a", 2L, 5.0), ("b", 3L, 1.0))
      .toDF("grp", "id", "v").repartition(8)
    val out = graft.ops.TopK.perGroup(df, Seq("grp"),
        Seq(($"v", true), ($"id", false)), 10, "rn")
      .orderBy($"grp", $"rn").collect()
    assert(out.map(r => (r.getString(0), r.getLong(1), r.getInt(3))).toSeq ==
      Seq(("a", 1L, 1), ("a", 2L, 2), ("b", 3L, 1)))
  }

  test("text kernels match the interpreted formulations on edge cases") {
    import org.apache.spark.unsafe.types.UTF8String
    val E = graft.functions.SketchEval
    def sh(s: String, k: Int) = {
      val a = E.wordShingles(UTF8String.fromString(s), k)
      (0 until a.numElements()).map(a.getUTF8String(_).toString)
    }
    // distinct shingles, insertion order; lowercase; whitespace runs
    assert(sh("A b  c\td", 2) == Seq("a b", "b c", "c d"))
    assert(sh(" lead b lead b", 2) == Seq("lead b", "b lead"))
    assert(sh("one two", 3).isEmpty) // fewer tokens than k
    assert(sh("", 2).isEmpty)
    assert(sh("x", 1) == Seq("x"))
    def rep(s: String) = {
      val a = E.repStats(UTF8String.fromString(s))
      (a.getInt(0), a.getInt(1), a.getInt(2))
    }
    assert(rep("a b a b a") == ((5, 2, 2)))  // "a b" twice, "b a" twice
    assert(rep("A a") == ((2, 1, 1)))        // lowercased before counting
    assert(rep("solo") == ((1, 1, 0)))       // no bigram
    assert(rep("") == ((0, 0, 0)))
    assert(rep("  spaced   out  ") == ((2, 2, 1)))
    def lh(s: String) = {
      val sets = Array(Seq("the", "a"), Seq("der", "die")).map { ws =>
        val h = new java.util.HashSet[String](); ws.foreach(h.add); h
      }
      val a = E.langHits(UTF8String.fromString(s), sets)
      (a.getInt(0), a.getInt(1))
    }
    assert(lh("The a der 42der die5") == ((2, 3))) // digits split tokens
    assert(lh("athe the-a") == ((2, 0)))           // '-' splits, "athe" misses
    assert(lh("") == ((0, 0)))
    assert(lh("straße die") == ((0, 1)))           // ß is a word char
  }

  test("pii redaction scanners are equivalent to the regex chain") {
    // the codegen scanners must reproduce java.util.regex semantics
    // (leftmost-first, greedy with backtracking) for the three fixed
    // patterns — including every edge the scanner logic special-cases
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val ip = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
    val phone = "\\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}"
    def regexChain(s: String): String = s
      .replaceAll(email, "<EMAIL>").replaceAll(ip, "<IP>")
      .replaceAll(phone, "<PHONE>")
    val cases = Seq(
      "plain text no pii at all",
      "a@b.cc", "a@@b.cc", "x@y a@b.cc", "ab@cd@ef.gg", "a@b@c.dd",
      "a@b.comx2 tail", "user.name+tag@sub.domain-x.org!",
      "@nolocal.com", "noat.com", "a@nodot", "a@b.c",  // 1-letter TLD
      "pre 10.0.0.1 post", "1.2.3.4a", "a1.2.3.4", "10.0.0.1234",
      "1234.5.6.7", "1.2.3.4.5", "1.2.3.45.6.7.8", "1.2.3.456.7.8.9",
      "..1.2.3.4..", "1.2.3", "+1-555-0042", "+12-555-00420 over",
      "+123-555-0042", "+1-5555-0042", "+1-555-004", "++1-555-0042",
      "+1-555-0042+2-666-1234", "mail a7@spam.test ip 10.199.0.1 " +
        "call +1-555-0042 end",
      " leading@ws.ab  +9-123-45678")
    cases.foreach { s =>
      val got = graft.functions.SketchEval
        .piiRedact(org.apache.spark.unsafe.types.UTF8String.fromString(s))
        .toString
      assert(got == regexChain(s), s"input: '$s'")
    }
    // and the whole corpus agrees (the q49 synth formulation)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val synth = concat($"text", lit(" contact user"),
      $"doc_id".cast("string"), lit("@mail.example or admin"),
      ($"doc_id" % 7).cast("string"), lit("@spam.test from 10."),
      ($"doc_id" % 200).cast("string"), lit(".0.1 call +1-555-"),
      lpad(($"doc_id" % 10000).cast("string"), 4, "0"))
    val both = docs.withColumn("synth", synth)
      .select(
        graft.functions.SketchExpressions.pii_redact($"synth").as("k"),
        regexp_replace(regexp_replace(regexp_replace($"synth",
          email, "<EMAIL>"), ip, "<IP>"), phone, "<PHONE>").as("r"))
    assert(both.filter($"k" =!= $"r").count() == 0)
  }

  test("kmeans: separable blobs cluster together, fixed-point determinism") {
    // two tight blobs around orthogonal axes in contiguous id ranges, so
    // the stride init (ids 0 and 20) seeds one centroid per blob; the
    // Lloyd passes must keep every member with its blob
    def vec(axis: Int, eps: Float): Array[Float] = {
      val v = Array.fill(8)(0.01f * eps)
      v(axis) = 1.0f; v
    }
    val rows = (0L until 40L).map { i =>
      (i, vec(if (i < 20) 0 else 4, (i % 7).toFloat).toSeq)
    }
    val df = rows.toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
      .repartition(8)
    val (assigned, cents) =
      graft.ops.KMeans.kmeans(df, "embedding", "vec_id", k = 2, iters = 2)
    val byCluster = assigned.select($"vec_id", $"cluster").collect()
      .groupBy(_.getInt(1)).view.mapValues(_.map(_.getLong(0)).toSet).toMap
    assert(byCluster.size == 2)
    assert(byCluster.values.toSet ==
      Set((0L until 20L).toSet, (20L until 40L).toSet))
    // fixed-point means are exactly reproducible across partitionings
    val (_, cents2) = graft.ops.KMeans.kmeans(df.repartition(3),
      "embedding", "vec_id", k = 2, iters = 2)
    assert(cents.map(_._2.toSeq) == cents2.map(_._2.toSeq))
    // empty clusters keep surviving labels stable (k > natural clusters)
    val (a5, c5) = graft.ops.KMeans.kmeans(df, "embedding", "vec_id",
      k = 5, iters = 2)
    val present = a5.select($"cluster").distinct().collect()
      .map(_.getInt(0)).toSet
    assert(present.subsetOf(c5.map(_._1).toSet))
  }

  test("semdedup pairs: same-cluster near-dups only, bounded by blocking") {
    val base = Array.fill(8)(0f); base(0) = 1f
    val near = base.clone(); near(1) = 0.01f
    val far = Array.fill(8)(0f); far(4) = 1f
    val df = Seq((0L, base.toSeq), (1L, near.toSeq), (2L, far.toSeq),
        (3L, far.map(_ * 2).toSeq))
      .toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    val (assigned, _) =
      graft.ops.KMeans.kmeans(df, "embedding", "vec_id", k = 2, iters = 2)
    val pairs = graft.ops.KMeans.semDedupPairs(assigned, "embedding",
        "vec_id", threshold = 0.99).collect()
    val ids = pairs.map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(ids == Set((0L, 1L), (2L, 3L)))
  }

  test("packed n-gram codes are a bijection of the string grams") {
    import graft.functions.SketchExpressions
    // ASCII inputs (the kernel's contract: it runs on normalized text)
    val docs = Seq("the quick brown fox", "aa", "abc", "", "aaaa aaaa",
      "abcdefghij", "a1 b2 c3 a1 b2")
    val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "t")
    for (n <- Seq(2, 4, 8)) {
      val viaStr = df.select($"id",
          explode(SketchExpressions.char_ngrams($"t", n)).as("g"))
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      val viaCode = df.select($"id",
          explode(SketchExpressions.char_ngram_codes($"t", n)).as("g"))
        .collect().map { r =>
          val code = r.getLong(1)
          val bs = Array.tabulate(n)(j =>
            ((code >> (8 * (n - 1 - j))) & 0xff).toByte)
          (r.getLong(0),
            new String(bs, java.nio.charset.StandardCharsets.US_ASCII))
        }.toSet
      assert(viaCode == viaStr, s"n=$n: packed codes must decode to " +
        "exactly the distinct string grams")
    }
  }

  test("argmax assigners: zero-norm vector falls to first label, " +
      "zero-norm centroid never beats a finite match") {
    import graft.functions.SketchExpressions
    val df = Seq((0L, Seq(0f, 0f, 0f, 0f)), (1L, Seq(1f, 0f, 0f, 0f)))
      .toDF("id", "v")
      .select($"id", $"v".cast("array<float>").as("v"))
    val labels = Array(3, 7)
    val cents = Array(Array(0.0, 1.0, 0.0, 0.0), Array(1.0, 0.0, 0.0, 0.0))
    val got = df.select($"id",
        SketchExpressions.kmeans_assign($"v", labels, cents).as("c"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // all-NaN sims -> first label; matches the oracle's
    // ORDER BY sim DESC, c (NaN first in DESC, lowest c on tie)
    assert(got(0L) == 3)
    assert(got(1L) == 7)
    // a zero-norm CENTROID is skipped, not preferred
    val degenerate = Array(Array(0.0, 0.0, 0.0, 0.0), Array(1.0, 0.0, 0.0, 0.0))
    val pick = df.filter($"id" === 1L)
      .select(SketchExpressions.kmeans_assign($"v", labels, degenerate))
      .collect()(0).getInt(0)
    assert(pick == 7)
    // ivf twin: same contract, labels are list positions
    val fcents = Array(Array(0f, 1f, 0f, 0f), Array(1f, 0f, 0f, 0f))
    val gi = df.select($"id",
        SketchExpressions.ivf_assign($"v", fcents).as("c"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(gi(0L) == 0 && gi(1L) == 1)
  }

  test("sq8 quantizer: rounding contract, degenerate dims, fused cosine") {
    import graft.functions.{SketchEval, SketchExpressions}
    // the dequantization rounds half-away-from-zero via an exact
    // fraction comparison — equivalent to Spark's round(col, 0)
    // (BigDecimal HALF_UP) on the nonnegative scaled offsets, which is
    // what the q59 oracle certifies against DuckDB's ROUND
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 10000) {
      val l = rnd.nextDouble() * 10 - 5
      val h = l + rnd.nextDouble() * 10
      val x = l + rnd.nextDouble() * (h - l)
      val t = (x - l) / (h - l) * 255.0
      val viaBD = BigDecimal(t)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(SketchEval.sq8Dequant(x, l, h) == l + viaBD / 255.0 * (h - l))
    }
    // degenerate dimension (hi == lo) maps to lo, never NaN
    assert(SketchEval.sq8Dequant(7.0, 7.0, 7.0) == 7.0)
    // fused codegen kernel == dequantize-then-cosine reference
    val lo = Array(0.0, -1.0, 5.0, 5.0)
    val hi = Array(10.0, 1.0, 6.0, 5.0)
    val q = Array(1.0, 0.5, 5.5, 5.0)
    val df = Seq((1L, Seq(3.2f, -0.4f, 5.9f, 5.0f)),
        (2L, Seq(9.9f, 0.9f, 5.1f, 5.0f)))
      .toDF("id", "v").select($"id", $"v".cast("array<float>").as("v"))
    val got = df.select($"id",
        SketchExpressions.sq8_cosine($"v", lo, hi, q).as("s"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    def ref(v: Array[Float]): Double = {
      val dq = Array.tabulate(v.length)(i =>
        SketchEval.sq8Dequant(v(i).toDouble, lo(i), hi(i)))
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- dq.indices) {
        dot += dq(i) * q(i); na += dq(i) * dq(i); nb += q(i) * q(i)
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    assert(got(1L) == ref(Array(3.2f, -0.4f, 5.9f, 5.0f)))
    assert(got(2L) == ref(Array(9.9f, 0.9f, 5.1f, 5.0f)))
  }

  test("ivf centroids: single action, count folded into the plan") {
    val df = (0L until 64L)
      .map(i => (i, Seq.tabulate(8)(d => (i + d).toFloat)))
      .toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
      .repartition(4)
    val sc = spark.sparkContext
    df.count() // warm the scan so both measurements see the same state
    // the status store is fed asynchronously; poll until stable
    def jobs(tag: String): Int = {
      val deadline = System.nanoTime() + 5_000_000_000L
      var n = sc.statusTracker.getJobIdsForGroup(tag).length
      while (System.nanoTime() < deadline &&
          { Thread.sleep(100); sc.statusTracker.getJobIdsForGroup(tag).length != n })
        n = sc.statusTracker.getJobIdsForGroup(tag).length
      n
    }
    // the pre-fold formulation: an eager count() action, then the pick
    sc.setJobGroup("ivf-two-action", "eager-count twin")
    val n0 = df.count()
    val stride = math.max(1L, n0 / 4)
    df.select($"vec_id", $"embedding")
      .filter(pmod($"vec_id", lit(stride)) === 0)
      .orderBy($"vec_id").limit(4).collect()
    sc.clearJobGroup()
    sc.setJobGroup("ivf-one-action", "ivf centroid pick")
    val cents = Ann.ivfCentroids(df, "embedding", "vec_id", 4)
    sc.clearJobGroup()
    assert(cents.length == 4)
    // stride = 64/4 = 16 -> ids 0,16,32,48
    assert(cents.map(_(0)) sameElements Array(0f, 16f, 32f, 48f))
    val (twin, folded) = (jobs("ivf-two-action"), jobs("ivf-one-action"))
    // folding the count into the plan as a broadcast 1-row aggregate
    // must cost strictly fewer scheduler jobs than the two-action twin
    // (measured 5 vs 7 under AQE at the time of writing)
    assert(folded < twin,
      s"ivfCentroids ran $folded jobs vs the two-action twin's $twin")
  }

  test("kmeans: plan size stays bounded across iterations (iters=5)") {
    def vec(axis: Int, eps: Float): Array[Float] = {
      val v = Array.fill(8)(0.01f * eps)
      v(axis) = 1.0f; v
    }
    val df = (0L until 40L)
      .map(i => (i, vec(if (i < 20) 0 else 4, (i % 7).toFloat).toSeq))
      .toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    def planNodes(d: org.apache.spark.sql.DataFrame): Int =
      d.queryExecution.optimizedPlan.collect { case p => p }.size
    val (a2, _) = graft.ops.KMeans.kmeans(df, "embedding", "vec_id",
      k = 2, iters = 2)
    val (a5, _) = graft.ops.KMeans.kmeans(df, "embedding", "vec_id",
      k = 2, iters = 5)
    // every pass rebuilds the assignment from the input frame with new
    // literal centroids — lineage must NOT stack with iteration count
    assert(planNodes(a5) == planNodes(a2),
      s"iters=5 plan has ${planNodes(a5)} nodes vs ${planNodes(a2)} at iters=2")
    // and the clustering still separates the blobs
    val byCluster = a5.select($"vec_id", $"cluster").collect()
      .groupBy(_.getInt(1)).view.mapValues(_.map(_.getLong(0)).toSet).toMap
    assert(byCluster.values.toSet ==
      Set((0L until 20L).toSet, (20L until 40L).toSet))
  }

  test("pq_adc_cosine: a new query norm reuses the generated code; NaN and " +
      "±Infinity norms stay in whole-stage codegen and equal eval") {
    import graft.functions.SketchExpressions
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, IntegerType}
    val dotLut = Array(Array(0.5, -0.25), Array(1.0, 0.125))
    val normLut = Array(Array(1.0, 2.0), Array(0.5, 4.0))
    val codes = spark.range(16).select(
      array((col("id") % 2).cast("int"), (col("id") / 2 % 2).cast("int")).as("c"))
    def adc(qNorm: Double) =
      codes.select(SketchExpressions.pq_adc_cosine(col("c"), dotLut, normLut, qNorm))
    val src = generatedSources(adc(1.2345678))
    assert(src.nonEmpty && src == generatedSources(adc(8.7654321)),
      "the query norm changed the generated code")
    assert(!src.mkString.contains("1.2345678"))
    val rows = codes.collect().map(r =>
      new org.apache.spark.sql.catalyst.util.GenericArrayData(r.getSeq[Int](0).toArray))
    for (q <- Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, 3.5)) {
      assert(generatedSources(adc(q)).mkString.contains("SketchEval.pqAdcCosine("), s"$q")
      val got = adc(q).collect().map(r => java.lang.Double.doubleToLongBits(r.getDouble(0)))
      val want = rows.map(c => java.lang.Double.doubleToLongBits(
        GraftBridge.expression(SketchExpressions.pq_adc_cosine(GraftBridge.column(
          Literal(c, ArrayType(IntegerType, containsNull = false))),
          dotLut, normLut, q)).eval().asInstanceOf[Double]))
      assert(got.toSeq == want.toSeq, s"$q")
    }
  }

  test("pq: codebook training, encode/adc contracts, empty-code fallback") {
    // 60 vectors in 8 dims (m=2 subspaces x 4 dims), three tight blobs
    // in contiguous id ranges so the stride init (ids 0,15,30,45) covers
    // every blob and the refinement moves centroids measurably
    val vecs = (0 until 60).map { i =>
      val blob = i / 20
      (i.toLong, Array.tabulate(8)(d =>
        blob * 10.0f + d * 0.1f + (i % 20) * 0.001f))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val cb = graft.ops.Pq.trainCodebooks(df, "embedding", "vec_id",
      m = 2, k = 4, dims = 8)
    assert(cb.length == 2 && cb.forall(_.length == 4) &&
      cb.forall(_.forall(_.length == 4)))
    // encode: blob 1 and blob 2 each have exactly one blob-pure init
    // centroid (ids 30 / 45), so after refinement each codes uniformly,
    // and distinctly from each other
    val codes = df.select(col("vec_id"), graft.functions.SketchExpressions
        .pq_encode(col("embedding"), cb).as("codes"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toList).toMap
    assert((20 until 40).map(i => codes(i.toLong)).toSet.size == 1,
      "blob 1 must code uniformly")
    assert((40 until 60).map(i => codes(i.toLong)).toSet.size == 1,
      "blob 2 must code uniformly")
    assert(codes(20L) != codes(40L), "blobs 1 and 2 must code apart")
    // ADC cosine agrees with the exact cosine within quantization error
    val q = vecs(21)._2 // blob-1 member
    val adc = df.select(col("vec_id"),
        graft.ops.Pq.adcCosine(graft.functions.SketchExpressions
          .pq_encode(col("embedding"), cb), cb, q).as("sim"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val exact = vecs.map { case (id, v) =>
      id -> graft.ops.Ann.cosineArrays(v, q)
    }.toMap
    vecs.foreach { case (id, _) =>
      assert(math.abs(adc(id) - exact(id)) < 0.01,
        s"adc vs exact diverge for $id: ${adc(id)} vs ${exact(id)}")
    }
    // empty-code fallback: k=8 codes over 3 blobs leaves codes unused;
    // unused codes must keep their init entry (no NaN / zero rows)
    val cb8 = graft.ops.Pq.trainCodebooks(df, "embedding", "vec_id",
      m = 2, k = 8, dims = 8)
    assert(cb8.forall(_.forall(_.forall(x => !x.isNaN))))
    // determinism: retraining yields bit-identical codebooks
    val cbAgain = graft.ops.Pq.trainCodebooks(df, "embedding", "vec_id",
      m = 2, k = 4, dims = 8)
    (0 until 2).foreach(s => (0 until 4).foreach(c =>
      assert(cb(s)(c).sameElements(cbAgain(s)(c)))))
    // ragged-row contract: a vector whose length disagrees with the
    // codebook dims fails with a named contract error, not an opaque
    // ArrayIndexOutOfBounds deep in generated code (ADVICE round 5)
    val ragged = Seq((0L, Array.tabulate(5)(_.toFloat)))
      .toDF("vec_id", "embedding")
    def rootMsg(t: Throwable): String = {
      var c: Throwable = t
      while (c.getCause != null) c = c.getCause
      c.getMessage
    }
    val e = intercept[Exception] {
      ragged.select(graft.functions.SketchExpressions
        .pq_encode(col("embedding"), cb)).collect()
    }
    assert(rootMsg(e).contains("pq_encode"))
    val e2 = intercept[Exception] {
      ragged.select(graft.functions.SketchExpressions
        .centroid_cosine(col("embedding"), lit(0), Array(0),
          Array(Array.tabulate(8)(_.toDouble)))).collect()
    }
    assert(rootMsg(e2).contains("centroid_cosine"))
  }

  test("packing: two-phase prefix sum equals the global window, no " +
      "unpartitioned window in the plan") {
    val df = (0L until 500L).map(i => (i * 3, 10L + i % 7))
      .toDF("k", "sz").repartition(16)
    val packed = graft.ops.Packing.packBySize(df, "k", "sz",
      capacity = 100L, packCol = "p")
    // oracle: single-partition running sum on collected rows
    val rows = df.collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(_._1)
    var cum = 0L
    val expect = rows.map { case (k, sz) =>
      val p = cum / 100L; cum += sz; (k, p)
    }.toMap
    val got = packed.select(col("k"), col("p")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expect)
    // plan audit: every window is partitioned (the DistWindow recipe)
    val wins = packed.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(wins.nonEmpty)
    wins.foreach(w => assert(w.partitionSpec.nonEmpty,
      "packing must not use an unpartitioned window"))
    // no helper column leaks: output schema is exactly input + pack col
    assert(packed.columns.toSeq == df.columns.toSeq :+ "p")
    // small chunk: keys 0..1497*3 span many 64-wide buckets, result
    // unchanged (exercises the bucket fix-up join inside packBySize)
    val packedSmall = graft.ops.Packing.packBySize(df, "k", "sz",
      capacity = 100L, packCol = "p", chunk = 64L)
    assert(packedSmall.select(col("k"), col("p")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap == expect)
    assert(packedSmall.columns.toSeq == df.columns.toSeq :+ "p")
    val multi = graft.ops.Packing.withRunningBefore(df, "k", "sz",
      "before", chunk = 64L)
    val cums = rows.scanLeft(("", 0L)) { case ((_, c), (k, sz)) =>
      (k.toString, c + sz) }
    val expBefore = rows.map(_._1).zip(cums.map(_._2)).toMap
    assert(multi.select(col("k"), col("before")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap == expBefore)
  }

  test("bpe: learns the textbook merges on the classic toy corpus") {
    // Sennrich et al.'s running example: pair counts are hand-checkable
    val docs = Seq(
      "low low low low low",
      "lower lower",
      "newest newest newest newest newest newest",
      "widest widest widest").toDF("text")
    val m = graft.ops.Bpe.trainMerges(docs, "text", 3).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4)))
    // (e,s)=9 ties (s,t)=9 -> lexicographic; then (es,t)=9; then (l,o)=7
    // ties (o,w)=7 -> lexicographic
    assert(m.toSeq == Seq(
      (1, "e", "s", "es", 9L),
      (2, "es", "t", "est", 9L),
      (3, "l", "o", "lo", 7L)))
    // max pair count is non-increasing across merge rounds (BPE invariant)
    assert(m.map(_._5).sliding(2).forall(w => w(0) >= w(1)))
    // the apply side agrees with training on replace semantics
    assert(graft.ops.Bpe.segment("newest", Seq("e" -> "s", "es" -> "t", "l" -> "o"))
      == Seq("n", "e", "w", "est"))
    assert(graft.ops.Bpe.segment("lowest", Seq("e" -> "s", "es" -> "t", "l" -> "o"))
      == Seq("lo", "w", "est"))
  }

  test("bpe: a pair weight driven below zero fails loudly") {
    assert(graft.ops.Bpe.nextWeight(("a", "b"), 5L, -5L) == 0L)
    assert(graft.ops.Bpe.nextWeight(("a", "b"), 0L, 3L) == 3L)
    val e = intercept[IllegalStateException](
      graft.ops.Bpe.nextWeight(("a", "b"), 2L, -3L))
    assert(e.getMessage.contains("underflow"))
  }

  test("bpe: exhaustion stops early; non-alnum words are excluded") {
    // single-char words have no adjacent pairs -> zero merges
    val single = Seq("a b c a b").toDF("text")
    assert(graft.ops.Bpe.trainMerges(single, "text", 5).count() == 0)
    // "ab" merges once, then every word is one symbol -> stops at 1
    val one = Seq("ab ab x.y z-w").toDF("text")
    val m = graft.ops.Bpe.trainMerges(one, "text", 5).collect()
    assert(m.length == 1 && m(0).getString(3) == "ab" && m(0).getLong(4) == 2L)
    // consecutive-identical merge is leftmost-greedy: "aaaa" -> aa,aa
    val rep = Seq("aaaa aaaa aaaa").toDF("text")
    val mr = graft.ops.Bpe.trainMerges(rep, "text", 2).collect()
      .map(r => (r.getString(3), r.getLong(4)))
    // round 1: (a,a)=9 (3 words x 3 adjacent pairs); round 2 on [aa,aa]:
    // (aa,aa)=3
    assert(mr.toSeq == Seq(("aa", 9L), ("aaaa", 3L)))
    assert(graft.ops.Bpe.segment("aaaa", Seq("a" -> "a", "aa" -> "aa"))
      == Seq("aaaa"))
    assert(graft.ops.Bpe.segment("aaa", Seq("a" -> "a", "aa" -> "aa"))
      == Seq("aa", "a"))
  }

  test("bpe: deep merge runs stay bounded (checkpoint rotation)") {
    // 20 rounds crosses the 16-round re-materialization boundary; the
    // long word gives enough distinct pairs to keep merging past it
    val docs = Seq("abcdefghijklmnopqrstuvwxyz abcdefghijklmnopqrstuvwxyz")
      .toDF("text")
    val m = graft.ops.Bpe.trainMerges(docs, "text", 20).collect()
    assert(m.length == 20)
    // ranks are contiguous and weights non-increasing across the
    // checkpoint boundary (the rotation must not perturb the learned
    // sequence)
    assert(m.map(_.getInt(0)).toSeq == (1 to 20))
    val ws = m.map(_.getLong(4))
    assert(ws.sliding(2).forall(w => w(0) >= w(1)))
    // replaying the 20 merges on the word yields exactly the final
    // symbol count the next round would have seen: 26 chars - 20 merges
    val merges = m.map(r => (r.getString(1), r.getString(2))).toSeq
    assert(graft.ops.Bpe.segment("abcdefghijklmnopqrstuvwxyz", merges).size
      == 26 - 20)
  }

  test("bpe: lazy-deletion heap training is bit-identical to a " +
      "full-recount reference (round-18 merge-loop rewrite pin)") {
    // the r18 heap replaces each round's minBy full-map rescan; this
    // reference re-derives every round's pair weights from scratch and
    // picks max weight / ties ascending (lhs, rhs) — any drift in the
    // heap's lazy-deletion bookkeeping (stale entries surviving, missed
    // pushes on delta updates) shows up as a differing merge table
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog the end",
      "pack my box with five dozen liquor jugs again and again",
      "she sells sea shells by the sea shore surely",
      "peter piper picked a peck of pickled peppers",
      "a aa aaa aaaa ab ab abab baba abba 123 1213 31,.!? mixedCASE low")
    val docs = texts.toDF("text")
    val got = graft.ops.Bpe.trainMerges(docs, "text", 12).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).toSeq
    val words = texts.flatMap(_.toLowerCase.split("\\s+"))
      .filter(_.matches("^[a-z0-9]+$"))
    val dict = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    words.foreach(w => dict.update(w, dict.getOrElse(w, 0L) + 1L))
    var segs: Seq[(Array[String], Long)] =
      dict.toSeq.map { case (w, c) => (w.map(_.toString).toArray, c) }
    val ref =
      scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, String, Long)]
    var r = 1
    var stop = false
    while (r <= 12 && !stop) {
      val weights = scala.collection.mutable.HashMap.empty[(String, String), Long]
      for ((syms, c) <- segs; j <- 0 until syms.length - 1)
        weights.update((syms(j), syms(j + 1)),
          weights.getOrElse((syms(j), syms(j + 1)), 0L) + c)
      if (weights.isEmpty) stop = true
      else {
        val ((l, rt), w) = weights.minBy { case ((l0, r0), w0) =>
          (-w0, l0, r0) }
        ref += ((r, l, rt, l + rt, w))
        segs = segs.map { case (syms, c) =>
          // leftmost non-overlapping merge over symbol boundaries — the
          // semantics of the delimited String.replace
          val out = scala.collection.mutable.ArrayBuffer.empty[String]
          var j = 0
          while (j < syms.length) {
            if (j + 1 < syms.length && syms(j) == l && syms(j + 1) == rt) {
              out += l + rt; j += 2
            } else { out += syms(j); j += 1 }
          }
          (out.toArray, c)
        }
        r += 1
      }
    }
    assert(got == ref.toSeq,
      s"heap-trained merges diverge from full-recount reference:\n" +
        s"got  $got\nwant ${ref.toSeq}")
  }

  test("block scrub removes shared boilerplate everywhere but first") {
    // doc 1 and 2 share their first 10-token block (the "header"); doc 2
    // keeps only its unique tail; doc 3 is a full duplicate of doc 1's
    // header-only text and loses everything
    val header = (1 to 10).map(i => s"nav$i").mkString(" ")
    val tail2 = (1 to 10).map(i => s"body$i").mkString(" ")
    val docs = Seq(
      (1L, header), (2L, s"$header $tail2"), (3L, header), (4L, ""))
      .toDF("doc_id", "text")
    val out = Dedup.scrubDuplicateBlocks(docs, "text", "doc_id", 10)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    val md5empty = java.security.MessageDigest.getInstance("MD5")
      .digest("".getBytes).map("%02x".format(_)).mkString
    assert(out(1L)._1 == 1 && out(1L)._2 == 1)       // keeps its header
    assert(out(2L) == ((2L, 1L, md5Hex(tail2))))     // header scrubbed
    assert(out(3L) == ((1L, 0L, md5empty)))          // fully deduped
    assert(out(4L) == ((0L, 0L, md5empty)))          // empty stays empty
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("hll distinct estimate tracks exact within sketch error") {
    import graft.ops.Hll
    // 5000 distincts exercises the raw-estimator branch (> 2.5m = 640);
    // 300 exercises linear counting; duplicates must not move either
    val rows = (1 to 5000).map(i => ("g", s"val$i")) ++
      (1 to 300).map(i => ("h", s"val$i")) ++
      (1 to 1000).map(i => ("g", s"val$i")) // dups of g's first 1000
    val out = Hll.distinctPerGroup(rows.toDF("grp", "v"), $"grp", $"v", "grp")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(out("g")._1 == 5000L && out("h")._1 == 300L)
    // m=256 HLL standard error is 1.04/sqrt(256) = 6.5%; allow 3 sigma
    assert(math.abs(out("g")._3) < 0.2, s"g rel_err ${out("g")._3}")
    assert(math.abs(out("h")._3) < 0.2, s"h rel_err ${out("h")._3}")
    // determinism: repartitioning cannot move a max/sum-of-pow2 sketch
    val re = Hll.distinctPerGroup(rows.toDF("grp", "v").repartition(13),
        $"grp", $"v", "grp")
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(re("g") == out("g")._2 && re("h") == out("h")._2)
  }

  test("hard negatives exclude self and near-duplicates above the ceiling") {
    val base = Array.tabulate(8)(i => 1.0f / (i + 1))
    val nearDup = base.clone(); nearDup(7) = nearDup(7) * 1.01f
    val ortho = Array.tabulate(8)(i => if (i % 2 == 0) 1.0f else -1.0f)
    val df = Seq((0L, base.toSeq), (1L, nearDup.toSeq), (2L, ortho.toSeq),
        (3L, ortho.map(-_).toSeq))
      .toDF("vec_id", "embedding")
    val out = Ann.hardNegatives(df, df.filter($"vec_id" === 0),
        "embedding", "vec_id", "vec_id", "embedding", k = 3, dupCeil = 0.99)
      .collect().map(r => (r.getInt(1), r.getLong(2)))
    // vec 1 is a near-dup (cos ~1) -> excluded; self excluded; the two
    // ortho vectors are the surviving hard negatives
    assert(out.map(_._2).toSet == Set(2L, 3L))
    assert(out.map(_._1).sorted.toSeq == Seq(1, 2))
  }

  test("span scrub removes shared passages at any offset, merging spans") {
    // docs 1/2 share an 8-token passage at DIFFERENT offsets (block
    // dedup at k=10 would miss it); doc 3 repeats the passage twice
    // WITHIN itself only -> distinct-doc df = 1 via its own copies, but
    // it also shares it with 1/2 so it IS flagged; doc 4 is untouched;
    // doc 5 is shorter than the window and can never be flagged
    val p = (1 to 8).map(i => s"shared$i").mkString(" ")
    val docs = Seq(
      (1L, s"$p alpha beta"),
      (2L, s"pre1 pre2 pre3 $p"),
      (3L, s"$p mid $p"),
      (4L, "just some entirely unique tokens here right now ok fine"),
      (5L, "tiny doc"))
      .toDF("doc_id", "text")
    val out = Dedup.scrubRepeatedSpans(docs, "text", "doc_id",
        windowTokens = 8, minDf = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    assert(out(1L) == ((10L, 8L, 1L, md5Hex("alpha beta"))))
    assert(out(2L) == ((11L, 8L, 1L, md5Hex("pre1 pre2 pre3"))))
    // doc 3: both copies covered (two merged spans around "mid")
    assert(out(3L) == ((17L, 16L, 2L, md5Hex("mid"))))
    assert(out(4L)._2 == 0L && out(4L)._3 == 0L)
    assert(out(5L) == ((2L, 0L, 0L, md5Hex("tiny doc"))))
  }

  test("span scrub kernels: edges, adjacency merge, loud contracts") {
    import graft.functions.SketchEval
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    def arr(xs: Int*) = new GenericArrayData(xs.toArray.map(_.asInstanceOf[Any]))
    // windows: fewer tokens than k -> none; exact k -> one
    assert(SketchEval.windowDigests(UTF8String.fromString("a b"), 3)
      .numElements() == 0)
    assert(SketchEval.windowDigests(UTF8String.fromString("a b c"), 3)
      .numElements() == 1)
    // adjacent (non-overlapping) flagged windows merge into ONE span
    val st = SketchEval.spanStats(arr(0, 4), 4, 12)
    assert(st.getLong(0) == 8 && st.getLong(1) == 1)
    // overlapping windows count covered tokens once
    val ov = SketchEval.spanStats(arr(0, 2), 4, 12)
    assert(ov.getLong(0) == 6 && ov.getLong(1) == 1)
    // disjoint spans stay separate; ends clamp at n
    val dj = SketchEval.spanStats(arr(0, 6), 4, 8)
    assert(dj.getLong(0) == 6 && dj.getLong(1) == 2)
    // unsorted starts fail loudly, not silently undercount
    intercept[IllegalArgumentException] {
      SketchEval.spanStats(arr(5, 1), 4, 20)
    }
    // scrub: coverage union, whitespace normalization, full wipe
    assert(SketchEval.scrubSpans(
      UTF8String.fromString("  a  b c d  "), arr(1), 2).toString == "a d")
    assert(SketchEval.scrubSpans(
      UTF8String.fromString("a b"), arr(0), 8).toString == "")
    assert(SketchEval.scrubSpans(
      UTF8String.fromString(""), arr(), 2).toString == "")
  }

  test("bpe tokenize-apply agrees with per-word segmentation") {
    val docs = Seq((1L, "low lower newest"), (2L, "widest LOW x.y"))
      .toDF("doc_id", "text")
    val merges = Seq("e" -> "s", "es" -> "t", "l" -> "o")
    val got = graft.ops.Bpe.tokenizeCount(docs, "text", merges)
      .select(col("doc_id"), col("n_words"), col("n_bpe_tokens"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // doc1: [lo w]=2 [lo w e r]=4 [n e w est]=4; doc2: [w i d est]=4 +
    // lowercased "LOW" [lo w]=2, "x.y" excluded by the alnum filter
    assert(got == Map(1L -> ((3L, 10L)), 2L -> ((2L, 6L))))
    // cross-check against the driver-side segmenter
    val segSum = Seq("low", "lower", "newest")
      .map(w => graft.ops.Bpe.segment(w, merges).size.toLong).sum
    assert(segSum == got(1L)._2)
  }

  test("bpe tokenize-apply: merge exhaustion keeps train+apply in parity") {
    // only one merge is learnable ("a"+"b"); a train(8)-then-apply run
    // must tokenize with the short list. The q77 oracle replays the
    // same corpus through 8 replace rounds where rounds 2..8 COALESCE
    // to identity replaces — these pinned counts are what that SQL
    // returns in DuckDB ((1,3,3),(2,1,1)), so the pair certifies the
    // exhaustion path cross-engine (ADVICE round 5)
    val docs = Seq((1L, "ab ab ab"), (2L, "ab")).toDF("doc_id", "text")
    val merges = graft.ops.Bpe.trainMerges(docs, "text", 8).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    assert(merges == Seq("a" -> "b"))
    val got = graft.ops.Bpe.tokenizeCount(docs, "text", merges)
      .select(col("doc_id"), col("n_words"), col("n_bpe_tokens"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map(1L -> ((3L, 3L)), 2L -> ((1L, 1L))))
  }

  test("bloom cross-dedup: exact statuses, no false negatives") {
    val base = (0 until 400).map(i => (i.toLong, s"base document number $i"))
      .toDF("doc_id", "text")
    val batch = ((400 until 440).map(i => (i.toLong, s"fresh doc $i")) ++
      (0 until 10).map(i => (1000L + i, s"base document number ${i * 3}")))
      .toDF("doc_id", "text")
    val out = Dedup.bloomCrossDedup(base, batch, "text", "doc_id",
      mBits = 1 << 14, k = 4)
      .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getString(2)))
    assert(out.length == 50)
    val dups = out.filter(_._3 == "dup_of_base").map(_._1).toSet
    assert(dups == (0 until 10).map(1000L + _).toSet)
    // Bloom soundness: every true dup was flagged by the bitmap
    assert(out.filter(_._3 == "dup_of_base").forall(_._2))
    // statuses agree with the exact (non-bloom) formulation
    val exact = Dedup.crossDedup(base, batch, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getString(2) == "dup_of_base")).toMap
    out.foreach { case (id, _, st) =>
      assert((st == "dup_of_base") == exact(id), s"doc $id") }
  }

  test("char entropy kernel: closed-form cases, non-ASCII excluded") {
    import graft.functions.SketchExpressions.char_entropy
    val df = Seq("aaaa", "ab", "", "日本語テキスト", "a日b本")
      .toDF("t").select(char_entropy(col("t")).as("st"))
      .select(element_at(col("st"), 1).as("n"), element_at(col("st"), 2).as("h"))
    val got = df.collect().map(r => (r.getDouble(0), r.getDouble(1)))
    assert(got(0) == ((4.0, 0.0)))                    // uniform single char
    assert(got(1)._1 == 2.0 && math.abs(got(1)._2 - math.log(2)) < 1e-12)
    assert(got(2) == ((0.0, 0.0)))                    // empty -> defined 0
    assert(got(3) == ((0.0, 0.0)))                    // all non-ASCII ignored
    assert(got(4)._1 == 2.0 && math.abs(got(4)._2 - math.log(2)) < 1e-12)
  }

  test("logreg: learns to separate a toy labeled corpus") {
    import graft.ops.LogReg
    val docs = ((1 to 30).map(i => (i.toLong, "good clean prose text", 1.0)) ++
      (31 to 60).map(i => (i.toLong, "spam junk noise garbage", 0.0)))
      .toDF("doc_id", "text", "y")
    val w = LogReg.train(docs, "text", col("y"), dims = 64, iters = 3)
    val rows = w.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.size == 65 && rows.keySet == (0L to 64L).toSet)
    // scoring with the learned weights ranks a positive doc above a
    // negative one (training and apply agree on hashing + sigmoid)
    val weights = (0 to 64).map(f => rows(f.toLong)).toArray
    val scores = Seq("good clean prose text", "spam junk noise garbage")
      .toDF("text")
      .select(LogReg.scoreExpr(col("text"), weights, 64).as("p"))
      .collect().map(_.getDouble(0))
    assert(scores(0) > 0.5 && scores(1) < 0.5,
      s"pos ${scores(0)} should exceed 0.5, neg ${scores(1)} below")
    // y=0.5-r gradient at w=0 moves positive-class features up
    assert(scores(0) > scores(1))
  }

  test("kmv overlap: estimates track exact counts on a planted overlap") {
    import graft.ops.Kmv
    // corpus a = ids 0..999, corpus b = 500..1499 (distinct texts per
    // id) -> exact union 1500, jaccard 500/1500 = 1/3
    val docs = ((0 until 1000).map(i => (i.toLong, s"document text $i", "a")) ++
      (500 until 1500).map(i => (i.toLong + 10000, s"document text $i", "b")))
      .toDF("doc_id", "text", "side")
    val r = Kmv.corpusOverlap(docs, col("side"), "text", k = 128).collect()(0)
    assert(r.getInt(0) == 128 && r.getLong(1) == 128)
    val (estU, estJ) = (r.getDouble(2), r.getDouble(3))
    assert(r.getLong(4) == 1500 && math.abs(r.getDouble(5) - 1.0 / 3) < 1e-6)
    // KMV standard error ~ 1/sqrt(k) ~ 9%; allow 3 sigma
    assert(math.abs(estU - 1500) / 1500 < 0.27, s"est_union $estU")
    assert(math.abs(estJ - 1.0 / 3) < 0.15, s"est_jaccard $estJ")
    // sub-k corpora degrade to exact counts
    val tiny = ((0 until 20).map(i => (i.toLong, s"t $i", "a")) ++
      (10 until 30).map(i => (i.toLong + 100, s"t $i", "b")))
      .toDF("doc_id", "text", "side")
    val t = Kmv.corpusOverlap(tiny, col("side"), "text", k = 128).collect()(0)
    assert(t.getLong(1) == 30 && t.getDouble(2) == 30.0 &&
      t.getLong(4) == 30 && math.abs(t.getDouble(3) - 10.0 / 30) < 1e-6)
  }

  test("naive bayes: separates the toy corpus; empty text scores the prior") {
    import graft.ops.NaiveBayes
    val docs = ((1 to 30).map(i => (i.toLong, "good clean prose text", 1.0)) ++
      (31 to 60).map(i => (i.toLong, "spam junk noise garbage", 0.0)) ++
      Seq((61L, "", 1.0)))
      .toDF("doc_id", "text", "y")
    val out = NaiveBayes.trainScore(docs, "text", col("y"), dims = 64)
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(1), r.getBoolean(2)))).toMap
    assert(out.size == 61)
    // class-pure vocab: every positive doc scores positive, negatives
    // negative (train and apply agree on hashing + smoothing)
    (1 to 30).foreach(i => assert(out(i.toLong)._2, s"doc $i"))
    (31 to 60).foreach(i => assert(!out(i.toLong)._2, s"doc $i"))
    // a featureless doc scores exactly the (rounded) class prior
    val prior = math.log(31.0 / 30.0)
    assert(math.abs(out(61L)._1 -
      BigDecimal(prior).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble) < 1e-12)
    // degenerate single-class corpus is a contract error
    val oneClass = (1 to 5).map(i => (i.toLong, "x", 1.0))
      .toDF("doc_id", "text", "y")
    intercept[IllegalArgumentException] {
      NaiveBayes.trainScore(oneClass, "text", col("y"), dims = 64)
    }
  }

  test("bloom cross-dedup: saturated bitmap still exact, sizing enforced") {
    // m=64 with 200 base docs -> the bitmap saturates and nearly every
    // probe is a false positive; the confirm join must keep the result
    // exact (this is the FP-resolution contract, worst case)
    val base = (0 until 200).map(i => (i.toLong, s"seen $i")).toDF("doc_id", "text")
    val batch = (0 until 30).map(i => (500L + i, s"novel $i")).toDF("doc_id", "text")
    val out = Dedup.bloomCrossDedup(base, batch, "text", "doc_id",
      mBits = 64, k = 4).collect()
    assert(out.length == 30 && out.forall(_.getString(2) == "new"))
    intercept[IllegalArgumentException] {
      Dedup.bloomCrossDedup(base, batch, "text", "doc_id", mBits = 100)
    }
  }

  test("bloom cross-dedup: construction is job-free, one delivery <= 3 jobs") {
    // the round-5 shape paid >=4 jobs per delivery, two of them eager
    // full-corpus checkpoint materializations fired at CONSTRUCTION
    // time on top of the bitmap build. The contract now: construction
    // costs exactly ONE job — the map-side bitmap aggregation, which
    // also materializes the lazy base-digest checkpoint as it runs —
    // and a delivery costs two more: the confirm join's broadcast of
    // that cached digest set (a separate job in every Spark broadcast
    // join, reading the checkpoint and not the raw corpus) plus the
    // delivery action itself.
    val base = (0 until 300).map(i => (i.toLong, s"stable base $i"))
      .toDF("doc_id", "text")
    val batch = ((500 until 520).map(i => (i.toLong, s"novel $i")) ++
      Seq((900L, "stable base 7"))).toDF("doc_id", "text")
    val sc = spark.sparkContext
    val aqePrev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    sc.setJobGroup("bloom-build-audit", "bloom dedup construction gate", false)
    try {
      val before = sc.statusTracker.getJobIdsForGroup("bloom-build-audit").length
      val op = Dedup.bloomCrossDedup(base, batch, "text", "doc_id",
        mBits = 1 << 14, k = 4)
      val bitmapJobs =
        sc.statusTracker.getJobIdsForGroup("bloom-build-audit").length - before
      assert(bitmapJobs <= 1,
        s"construction should cost at most the bitmap job, saw $bitmapJobs")
      sc.setJobGroup("bloom-job-audit", "bloom dedup job-count gate", false)
      val out = op.collect()
      assert(out.length == 21)
      assert(out.count(_.getString(2) == "dup_of_base") == 1)
      val jobs = sc.statusTracker.getJobIdsForGroup("bloom-job-audit")
      assert(jobs.length <= 2,
        s"delivery after the bitmap should cost <=2 jobs " +
          s"(broadcast + collect), saw ${jobs.length}")
    } finally {
      sc.clearJobGroup()
      spark.conf.set("spark.sql.adaptive.enabled", aqePrev)
    }
  }

  test("pca: power iteration recovers a planted dominant direction") {
    // data = strong axis-3 direction + small noise on the other axes:
    // the eigengap is wide, so 24 fixed-point rounds must converge
    val rnd = new scala.util.Random(7)
    val rows = (0L until 200L).map { i =>
      val v = Array.fill(8)((rnd.nextFloat() - 0.5f) * 0.1f)
      v(3) = (if (i % 2 == 0) 1.0f else -1.0f) * (0.5f + rnd.nextFloat())
      (i, v.toSeq)
    }
    val df = rows.toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
      .repartition(8)
    val v = graft.ops.Pca.pc1(df, "embedding", dims = 8, iters = 24)
    val n2 = math.sqrt(v.map(x => x.toDouble * x.toDouble).sum)
    assert(math.abs(v(3).toDouble / n2) > 0.99,
      s"PC1 should align with the planted axis, got ${v.toSeq}")
    // exact integer arithmetic => bit-identical across partitionings,
    // projections included
    val v2 = graft.ops.Pca.pc1(df.repartition(3), "embedding", 8, 24)
    assert(v.toSeq == v2.toSeq)
    val p1 = graft.ops.Pca.project(df, "embedding", "vec_id", v)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val p2 = graft.ops.Pca.project(df.repartition(5), "embedding", "vec_id", v2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(p1 == p2)
    // ragged input fails with the contract error, not deep in codegen
    val bad = Seq((0L, Seq(1.0f, 2.0f))).toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    val e = intercept[Exception] {
      graft.ops.Pca.pc1(bad, "embedding", dims = 8, iters = 1)
    }
    assert(e.getMessage != null)
  }

  test("abtt: residuals are orthogonal to PC1 up to floor error") {
    val rnd = new scala.util.Random(11)
    val rows = (0L until 200L).map { i =>
      val v = Array.fill(8)((rnd.nextFloat() - 0.5f) * 0.1f)
      v(3) = (if (i % 2 == 0) 1.0f else -1.0f) * (0.5f + rnd.nextFloat())
      (i, v.toSeq)
    }
    val df = rows.toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
      .repartition(8)
    val m = graft.ops.Pca.moments(df, "embedding", 8)
    val v = graft.ops.Pca.pc1FromMoments(m, 8, 24)
    val n = m(0)
    val mu = Array.tabulate(8)(j =>
      math.floor(m(1 + j).toDouble / n.toDouble).toLong)
    val vv = v.map(x => x * x).sum
    val out = graft.ops.Pca.abttStats(df, "embedding", "vec_id", 8, 24)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // replay the removal driver-side and check r . v collapses vs c . v
    rows.foreach { case (id, emb) =>
      val q = emb.map(x => {
        val d = x.toDouble * 1e6
        (if (d >= 0) math.floor(d + 0.5) else -math.floor(-d + 0.5)).toLong
      }).toArray
      val c = q.indices.map(j => q(j) - mu(j)).toArray
      val p = c.indices.map(j => c(j) * v(j)).sum
      assert(out(id)._1 == p)
      val r = c.indices.map(j =>
        c(j) - math.floor(p.toDouble * v(j).toDouble / vv.toDouble).toLong)
      assert(out(id)._2 == r.map(x => x * x).sum)
      val rDotV = r.indices.map(j => r(j) * v(j)).sum
      // floor error bound: < sum_j |v_j| <= dims * 1e6
      assert(math.abs(rDotV) < 8L * 1000000L,
        s"residual not orthogonal: $rDotV vs c.v=$p")
    }
  }

  test("boilerplate strip removes frequent blocks everywhere, q79 keeps one") {
    // block "a b c d e f g h i j" appears in 3 docs -> stripped from all
    // three at minDf=3; the rare tail blocks survive
    val boiler = (1 to 10).map(i => s"t$i").mkString(" ")
    val docs = Seq(
      (0L, s"$boiler alpha beta"),
      (1L, s"$boiler gamma delta"),
      (2L, s"$boiler epsilon zeta"),
      (3L, "eta theta iota")).toDF("doc_id", "text")
    val out = Dedup.stripBoilerplateBlocks(docs, "text", "doc_id",
        blockTokens = 10, minDf = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // docs 0-2: 2 blocks each (10 boiler tokens + 2-token tail), boiler
    // stripped INCLUDING its first occurrence; doc 3 untouched
    assert(out == Set((0L, 2L, 1L), (1L, 2L, 1L), (2L, 2L, 1L), (3L, 1L, 1L)))
    // contrast: scrubDuplicateBlocks keeps the first occurrence
    val kept = Dedup.scrubDuplicateBlocks(docs, "text", "doc_id", 10)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(kept(0L) == 2L && kept(1L) == 1L && kept(2L) == 1L)
  }

  private def rootMsgOf(t: Throwable): String = {
    var c: Throwable = t
    while (c.getCause != null) c = c.getCause
    if (c.getMessage == null) "" else c.getMessage
  }

  test("pca moments: 128-bit accumulation matches a BigInt reference beyond Long range") {
    // coordinates up to ~2100 => q up to 2.1e9 micro-units, q^2 ~ 4.4e18
    // per row: the 64-row diagonal sums reach ~1e20, far past a signed
    // Long (the round-6 ADVICE silent-wrap scenario) - the reference
    // accumulates in BigInt and every triangle entry must match exactly
    val rnd = new scala.util.Random(77)
    val dims = 4
    val rows = (0L until 64L).map { i =>
      (i, Array.fill(dims)(((rnd.nextDouble() * 2 - 1) * 2100).toFloat).toSeq)
    }
    val df = rows.toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
      .repartition(7)
    val m = graft.ops.Pca.moments(df, "embedding", dims)
    def q(x: Float): Long = {
      val d = x.toDouble * 1e6
      (if (d >= 0) math.floor(d + 0.5) else -math.floor(-d + 0.5)).toLong
    }
    val qs = rows.map(_._2.map(q).toArray)
    val ref = scala.collection.mutable.ArrayBuffer[BigInt](BigInt(rows.size))
    for (j <- 0 until dims) ref += qs.map(r => BigInt(r(j))).sum
    for (j <- 0 until dims; k <- j until dims)
      ref += qs.map(r => BigInt(r(j)) * BigInt(r(k))).sum
    assert(m.length == ref.length)
    m.indices.foreach(i => assert(m(i) == ref(i), s"moment $i: ${m(i)} vs ${ref(i)}"))
    // the test only means something if the sums actually left Long range
    assert(m(1 + dims) > BigInt(Long.MaxValue),
      s"diagonal sum ${m(1 + dims)} unexpectedly fits a Long - raise magnitudes")
  }

  test("pca moments: ragged and non-finite vectors fail loudly") {
    val good = Seq((0L, Seq(1.0f, 2.0f, 3.0f, 4.0f)))
    val ragged = (good :+ ((1L, Seq(1.0f, 2.0f, 3.0f))))
      .toDF("vec_id", "embedding")
      .select($"embedding".cast("array<float>").as("embedding"))
    val e1 = intercept[Exception] {
      graft.ops.Pca.moments(ragged, "embedding", 4)
    }
    assert(rootMsgOf(e1).contains("pca_moments"), rootMsgOf(e1))
    for (bad <- Seq(Float.NaN, Float.PositiveInfinity, Float.NegativeInfinity)) {
      val df = (good :+ ((1L, Seq(1.0f, bad, 3.0f, 4.0f))))
        .toDF("vec_id", "embedding")
        .select($"embedding".cast("array<float>").as("embedding"))
      val e = intercept[Exception] {
        graft.ops.Pca.moments(df, "embedding", 4)
      }
      assert(rootMsgOf(e).contains("non-finite"), s"$bad: ${rootMsgOf(e)}")
    }
  }

  test("pq_encode rejects non-finite coordinates instead of coding them as 0") {
    val cb = Array(Array(Array(0.0, 0.0), Array(5.0, 5.0)))
    val ok = Seq((0L, Seq(4.9f, 5.1f))).toDF("vec_id", "embedding")
      .select($"embedding".cast("array<float>").as("embedding"))
    val codes = ok.select(graft.functions.SketchExpressions
      .pq_encode(col("embedding"), cb).as("c")).collect()(0)
      .getAs[scala.collection.Seq[Int]](0)
    assert(codes == Seq(1)) // sanity: nearest centroid wins
    for (bad <- Seq(Float.NaN, Float.PositiveInfinity)) {
      val df = Seq((0L, Seq(bad, 1.0f))).toDF("vec_id", "embedding")
        .select($"embedding".cast("array<float>").as("embedding"))
      val e = intercept[Exception] {
        df.select(graft.functions.SketchExpressions
          .pq_encode(col("embedding"), cb)).collect()
      }
      assert(rootMsgOf(e).contains("pq_encode: non-finite"), rootMsgOf(e))
    }
  }

  test("dot_micro matches a reference dot and rejects out-of-model features") {
    val rnd = new scala.util.Random(4040)
    val dims = 16
    val w = Array.fill(dims)(rnd.nextLong() % 1000000L)
    // random sparse rows, all features in range: kernel == reference
    val rows = (0 until 50).map { i =>
      (0 until rnd.nextInt(6)).map(_ =>
        (rnd.nextInt(dims).toLong, (rnd.nextInt(9) - 4).toLong))
    }
    val df = rows.zipWithIndex
      .map { case (fs, i) => (i.toLong, fs) }.toDF("id", "fs")
      .select($"id", $"fs".cast("array<struct<f:long,x:long>>").as("fs"))
    val got = df.select($"id", graft.functions.SketchExpressions
        .dot_micro($"fs", w).as("d")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.zipWithIndex.foreach { case (fs, i) =>
      val expect = fs.map { case (f, x) => w(f.toInt) * x }.sum
      assert(got(i.toLong) == expect, s"row $i")
    }
    // a feature index outside [0, dims) is a model/features mismatch
    for (f <- Seq(-1L, dims.toLong, Int.MaxValue.toLong + 5)) {
      val bad = Seq((0L, Seq((f, 1L)))).toDF("id", "fs")
        .select($"fs".cast("array<struct<f:long,x:long>>").as("fs"))
      val e = intercept[Exception] {
        bad.select(graft.functions.SketchExpressions.dot_micro($"fs", w))
          .collect()
      }
      assert(rootMsgOf(e).contains("dot_micro"), s"$f: ${rootMsgOf(e)}")
    }
  }

  test("round-7 op contracts: shards, zipf, drift, source gate, maha") {
    // shard manifest: nShards=1 degenerates to one global manifest row;
    // totals survive, signature is still order-independent
    val docs = Seq((1L, "alpha beta"), (2L, "gamma"), (3L, "alpha beta"))
      .toDF("doc_id", "text")
    val m1 = graft.ops.Shards.manifest(docs, "text", "doc_id", nShards = 1)
      .collect()
    assert(m1.length == 1 && m1(0).getAs[Long]("n_docs") == 3L &&
      m1(0).getAs[Long]("n_tokens") == 5L)
    val m1r = graft.ops.Shards.manifest(docs.orderBy($"doc_id".desc),
      "text", "doc_id", nShards = 1).collect()
    assert(m1(0) == m1r(0))
    intercept[IllegalArgumentException] {
      graft.ops.Shards.manifest(docs, "text", "doc_id", nShards = 0)
    }

    // zipf: headN below 2 is a contract error; a two-term corpus fits
    intercept[IllegalArgumentException] {
      graft.ops.Zipf.stats(docs, "text", headN = 1)
    }
    val z = graft.ops.Zipf.stats(docs, "text", headN = 10).collect()(0)
    assert(z.getAs[Long]("vocab_size") == 3L &&
      z.getAs[Long]("total_tokens") == 5L)
    assert(z.getAs[Double]("top10_frac") == 1.0) // <= 10 distinct terms

    // drift: identical slices => exactly zero both ways (every term's
    // nano-unit contribution is zero); fully disjoint slices => both
    // positive
    val same = Seq((0, "a b c"), (1, "a b c")).toDF("s", "text")
    val d0 = graft.ops.Drift.termDrift(same, "text", col("s")).collect()(0)
    assert(d0.getAs[Double]("kl_ab") == 0.0 &&
      d0.getAs[Double]("kl_ba") == 0.0)
    val disj = Seq((0, "x x x"), (1, "y y y")).toDF("s", "text")
    val d1 = graft.ops.Drift.termDrift(disj, "text", col("s")).collect()(0)
    assert(d1.getAs[Double]("kl_ab") > 0.1 && d1.getAs[Double]("kl_ba") > 0.1)

    // source gate: null lang counts against purity (not an error), and
    // a purity below the 0.4 bar drops the source
    val g = graft.ops.SourceGate.gate(
      Seq((1L, "s", null.asInstanceOf[String], "long enough text " * 20),
        (2L, "s", "zh", "long enough text " * 20),
        (3L, "s", "en", "long enough text " * 20))
        .toDF("doc_id", "source", "lang", "text"),
      "source", "text", "lang", length($"text")).collect()(0)
    assert(g.getAs[Double]("en_frac") == 0.333333 && !g.getAs[Boolean]("kept"))

    // maha: constant coordinate (zero variance) fails loudly; n=1 too
    val const = Seq((0L, Seq(1.0f, 5.0f)), (1L, Seq(2.0f, 5.0f)))
      .toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    val e = intercept[Exception] {
      graft.ops.Pca.mahaScores(const, "embedding", "vec_id", 2, 1.0).collect()
    }
    assert(rootMsgOf(e).contains("zero variance"), rootMsgOf(e))
    val one = Seq((0L, Seq(1.0f, 2.0f))).toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    val e2 = intercept[Exception] {
      graft.ops.Pca.mahaScores(one, "embedding", "vec_id", 2, 1.0).collect()
    }
    assert(rootMsgOf(e2).contains("at least 2"), rootMsgOf(e2))
  }

  test("doremi mixture: weights form a distribution, loss order preserved") {
    import spark.implicits._
    // two sources with clearly different bigram predictability: srcRep
    // repeats one bigram (low surprisal), srcRnd never repeats (high)
    val rep = (0 until 20).map(i =>
      (i.toLong, "srcRep", Seq.fill(30)("ab cd").mkString(" ")))
    val rnd = (0 until 20).map(i =>
      (100L + i, "srcRnd", (0 until 60).map(j => s"w${i}_$j").mkString(" ")))
    val docs = (rep ++ rnd).toDF("doc_id", "source", "text")
    val out = graft.ops.Doremi.mixtureWeights(spark, docs, "text", "source")
      .collect().map(r => r.getString(0) ->
        (r.getDouble(3), r.getDouble(4))).toMap
    val wSum = out.values.map(_._1).sum
    assert(math.abs(wSum - 1.0) < 1e-4, s"weights sum $wSum")
    // EG must boost the high-loss domain and shrink the low-loss one
    assert(out("srcRnd")._1 > out("srcRep")._1, s"order: $out")
    assert(out("srcRnd")._2 > 1.0 && out("srcRep")._2 < 1.0, s"boost: $out")
  }

  test("query_tf: duplicate query terms all carry the canonical tf") {
    import spark.implicits._
    val row = Seq(Tuple1("a b a a c")).toDF("text")
      .select(graft.functions.SketchExpressions
        .query_tf($"text", Seq("a", "b", "a", "z")).as("q"))
      .as[Seq[Long]].head()
    // [tf(a), tf(b), tf(a dup), tf(z), dl] — before the putIfAbsent fix
    // the duplicate slot stayed 0 (put() left only the LAST index live)
    assert(row == Seq(3L, 1L, 3L, 0L, 5L), s"got $row")
  }

  test("groupedWeightedMedian picks the rank-(n+1)/2 element per group") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val rows = (0 until 4).flatMap { g =>
      (0 until 301 + g).map(_ => (s"t$g", rng.nextInt(5000).toLong))
    }
    val h = rows.toDF("grp", "v").groupBy("grp", "v")
      .agg(count(lit(1)).as("cnt"))
    val got = graft.ops.DistWindow.groupedWeightedMedian(h, $"grp",
      floor($"v" / 1000L), $"v", $"cnt", "grp", "med", "n")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    rows.groupBy(_._1).foreach { case (g, rs) =>
      val sorted = rs.map(_._2).sorted
      val expect = sorted((sorted.length + 1) / 2 - 1)
      assert(got(g) == (expect, sorted.length.toLong),
        s"$g: got ${got(g)}, want ($expect, ${sorted.length})")
    }
  }
  test("query_tf randomized parity with brute-force counts") {
    import spark.implicits._
    val rnd = new scala.util.Random(19)
    val vocab = Vector("aa", "bb", "cc", "dd", "ee")
    val docs = (0 until 40).map { i =>
      (i.toLong, (0 until rnd.nextInt(30)).map(_ => vocab(rnd.nextInt(5)))
        .mkString(" "))
    }
    // terms include a duplicate and a never-present token
    val terms = Seq("bb", "aa", "zz", "bb")
    val got = docs.toDF("id", "text")
      .select($"id", graft.functions.SketchExpressions
        .query_tf($"text", terms).as("q"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    docs.foreach { case (id, text) =>
      val toks = text.split("\\s+").filter(_.nonEmpty)
      val want = terms.map(t => toks.count(_ == t).toLong) :+ toks.length.toLong
      assert(got(id) == want, s"doc $id '$text': ${got(id)} vs $want")
    }
  }

  test("groupedWeightedMedian edge shapes: singleton, all-ties, weights") {
    import spark.implicits._
    // singleton group; all-equal values; heavy weights crossing buckets
    val h = Seq(
      ("solo", 7L, 1L),
      ("ties", 5L, 3L), ("ties", 5L, 4L),
      ("wide", 1L, 10L), ("wide", 2000L, 9L), ("wide", 3000L, 2L))
      .toDF("grp", "v", "cnt")
    val got = graft.ops.DistWindow.groupedWeightedMedian(h, $"grp",
      org.apache.spark.sql.functions.floor($"v" / 1000L), $"v", $"cnt",
      "grp", "med", "n")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got("solo") == ((7L, 1L)))
    assert(got("ties") == ((5L, 7L)))
    // wide: expanded sorted = 1x10, 2000x9, 3000x2 -> n=21, pos=(21+1)/2=11 -> 2000
    assert(got("wide") == ((2000L, 21L)))
  }

  // brute-force ceil-rank oracle over the expanded multiset: the value at
  // 1-based position ceil(W*p/100) of the weight-expanded sorted values
  private def bruteCeilRank(rows: Seq[(Long, Long)], p: Int): (Long, Long) = {
    val expanded = rows.flatMap { case (v, w) => Seq.fill(w.toInt)(v) }.sorted
    val tot = expanded.length.toLong
    (expanded(((tot * p + 99) / 100).toInt - 1), tot)
  }

  test("histCeilRanks and groupedWeightedCeilRanks match the brute-force " +
      "ceil-rank oracle at p50/p90/p99") {
    import spark.implicits._
    val rng = new scala.util.Random(23)
    val hist = (0 until 3).flatMap { g =>
      (0 until 200 + 17 * g).map(_ =>
        (s"g$g", rng.nextInt(4000).toLong, 1L + rng.nextInt(5).toLong))
    }
    // collapse duplicate (grp, v) rows so both variants see a true histogram
    val h = hist.toDF("grp", "v", "w").groupBy("grp", "v")
      .agg(sum($"w").as("w"))
    val ps = Seq(50, 90, 99)
    val byGroup = hist.groupBy(_._1).map { case (g, rs) =>
      g -> rs.map(t => (t._2, t._3))
    }
    val lean = graft.ops.DistWindow.histCeilRanks(h, $"grp", $"v", $"w",
        ps, "grp", "p", "v_at", "n")
      .collect().map(r => (r.getString(0), r.getInt(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    val bucketed = graft.ops.DistWindow.groupedWeightedCeilRanks(h, $"grp",
        floor($"v" / 500L), $"v", $"w", ps, "grp", "p", "v_at", "n")
      .collect().map(r => (r.getString(0), r.getInt(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    for ((g, rs) <- byGroup; p <- ps) {
      val want = bruteCeilRank(rs, p)
      assert(lean((g, p)) == want, s"histCeilRanks $g p$p: ${lean((g, p))} vs $want")
      assert(bucketed((g, p)) == want,
        s"groupedWeightedCeilRanks $g p$p: ${bucketed((g, p))} vs $want")
    }
  }

  test("withGlobalRankAndBefore ≡ withGlobalRank + withRunningBefore + total") {
    import spark.implicits._
    val rng = new scala.util.Random(41)
    // unique keys (the withGlobalRank determinism contract), skewed weights
    val rows = rng.shuffle((0 until 500).toVector)
      .map(k => (k.toLong, 1L + rng.nextInt(100).toLong))
    val df = rows.toDF("k", "w")
    val got = graft.ops.DistWindow.withGlobalRankAndBefore(df,
        floor($"k" / 64L), Seq($"k"), $"w", "r", "before", "tot")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val sorted = rows.sortBy(_._1)
    val total = rows.map(_._2).sum
    var running = 0L
    sorted.zipWithIndex.foreach { case ((k, w), i) =>
      assert(got(k) == ((i + 1L, running, total)),
        s"k=$k: ${got(k)} vs (${i + 1}, $running, $total)")
      running += w
    }
  }

  test("withGlobalRankAndBeforeMulti ≡ rank + N exclusive running sums " +
      "(r17: the fused q161 machinery)") {
    import spark.implicits._
    val rng = new scala.util.Random(43)
    val rows = rng.shuffle((0 until 400).toVector)
      .map(k => (k.toLong, 1L + rng.nextInt(50).toLong,
        rng.nextInt(7).toLong))
    val df = rows.toDF("k", "w1", "w2")
    val got = graft.ops.DistWindow.withGlobalRankAndBeforeMulti(df,
        floor($"k" / 64L), Seq($"k"),
        Seq("w1" -> "b1", "w2" -> "b2"), "r")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    val sorted = rows.sortBy(_._1)
    var r1 = 0L; var r2 = 0L
    sorted.zipWithIndex.foreach { case ((k, w1, w2), i) =>
      assert(got(k) == ((i + 1L, r1, r2)),
        s"k=$k: ${got(k)} vs (${i + 1}, $r1, $r2)")
      r1 += w1; r2 += w2
    }
  }

  test("WAV PCM round-trip: hand-rolled RIFF writer decodes through the " +
      "JDK javax.sound reader to exact samples; junk bytes fall to None") {
    // deterministic pseudo-random samples spanning the full short range
    val samples = Array.tabulate(3001) { i =>
      (Hashing.family(7L, i) % 65536L - 32768L).toShort
    }
    val wav = Multimodal.encodeWavPcm16(samples, 8000)
    val Some((rate, back)) = Multimodal.decodeWavPcm16(wav)
    assert(rate == 8000)
    assert(back.sameElements(samples))
    // the hot-path hand parser is bit-identical to the JDK reader
    val Some((hr, hb)) = Multimodal.parseWavPcm16(wav)
    assert(hr == rate && hb.sameElements(back))
    // edge shapes: empty clip, single sample, rail values — both readers
    for (s <- Seq(Array.empty[Short], Array[Short](0),
        Array[Short](Short.MinValue, Short.MaxValue, -1, 1))) {
      val enc = Multimodal.encodeWavPcm16(s, 16000)
      val Some((r2, b2)) = Multimodal.decodeWavPcm16(enc)
      assert(r2 == 16000 && b2.sameElements(s))
      val Some((r3, b3)) = Multimodal.parseWavPcm16(enc)
      assert(r3 == 16000 && b3.sameElements(s))
    }
    for (junk <- Seq(null, Array.emptyByteArray, "not audio".getBytes,
        Multimodal.encodePng(4, 4, 1L))) { // a PNG payload is not audio
      assert(Multimodal.decodeWavPcm16(junk).isEmpty)
      assert(Multimodal.parseWavPcm16(junk).isEmpty)
    }
    // an extra RIFF chunk between fmt and data is skipped per spec
    val withList = {
      val base = Multimodal.encodeWavPcm16(Array[Short](5, -5), 8000)
      val bb = java.nio.ByteBuffer.allocate(base.length + 12)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put(base, 0, 36)                        // header + fmt chunk
      bb.put("LIST".getBytes("US-ASCII")).putInt(4).putInt(0)
      bb.put(base, 36, base.length - 36)         // data chunk
      val arr = bb.array()
      // patch the RIFF size for the inserted 12 bytes
      val riffLen = java.nio.ByteBuffer.wrap(base, 4, 4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt()
      java.nio.ByteBuffer.wrap(arr, 4, 4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(riffLen + 12)
      arr
    }
    assert(Multimodal.parseWavPcm16(withList)
      .exists(_._2.sameElements(Array[Short](5, -5))))
  }

  test("audio gate flags undecodable payloads instead of keeping them") {
    import spark.implicits._
    val rows = Seq(
      (1L, "corrupt".getBytes("UTF-8")),
      (2L, null.asInstanceOf[Array[Byte]]),
      (3L, Multimodal.encodeWavPcm16(
        Array.tabulate(2000)(i => ((i % 37) * 50 - 900).toShort), 16000)))
      .toDF("doc_id", "payload")
    val got = Multimodal.withAudioGate(rows, "payload")
      .select("doc_id", "reason").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "undecodable", s"corrupt bytes: ${got(1L)}")
    assert(got(2L) == "undecodable", s"null payload: ${got(2L)}")
    assert(got(3L) != "undecodable", s"valid wav: ${got(3L)}")
  }

  test("aHash of a larger-than-8x8 image block-mean downscales: a 2x " +
      "pixel-replicated image hashes identically to its 8x8 source") {
    val lums8 = Array.tabulate(64)(p => Multimodal.classLum(3L, p))
    val want = Multimodal.aHashOfLums(lums8)
    // 16x16: each source pixel becomes a 2x2 block — every downscale
    // cell averages 4 equal values, so the cell grid IS the 8x8 image
    val lums16 = Array.tabulate(256) { p =>
      val x = p % 16; val y = p / 16
      lums8((y / 2) * 8 + (x / 2))
    }
    val png16 = Multimodal.encodeGrayPng(lums16, 16, 16)
    assert(Multimodal.aHashOf(png16).contains(want))
    // non-multiple-of-8 dims still fill all 64 cells (no crash, no
    // empty-cell division) and stay deterministic
    val lums19 = Array.tabulate(19 * 11)(p => (p * 37) % 256)
    val png19 = Multimodal.encodeGrayPng(lums19, 19, 11)
    assert(Multimodal.aHashOf(png19) == Multimodal.aHashOf(png19))
    assert(Multimodal.aHashOf(png19).isDefined)
  }

  test("encodeRgbPng round-trips a large incompressible image (the " +
      "deflate sink must grow past the fixed-buffer worst case)") {
    val w = 300; val h = 300
    val px = Array.tabulate(w * h) { p =>
      // LCG noise: near-incompressible input, deflate expands it
      val v = (p * 1103515245 + 12345) & 0x7fffffff
      v & 0xffffff
    }
    val png = Multimodal.encodeRgbPng(px, w, h)
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
    assert(img.getWidth == w && img.getHeight == h)
    for (p <- Seq(0, 1, w - 1, w * h / 2, w * h - 1))
      assert((img.getRGB(p % w, p / w) & 0xffffff) == px(p), s"pixel $p")
  }

  test("audio features from DECODED samples equal the sample formula " +
      "(what the q178 oracle replays)") {
    import spark.implicits._
    val ids = (0L until 70L).toDF("doc_id")
    val feats = Multimodal.withAudioFeatures(
        Multimodal.withSyntheticWav(ids, "doc_id"), "payload")
      .select(col("doc_id"), col("sample_rate"), col("n_samples"),
        col("peak"), col("sum_sq"), col("zero_cross"))
      .collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    (0L until 70L).foreach { id =>
      // formula side, computed independently of the codec path
      val n = (1600 + (id % 32) * 50).toInt
      val amp = 256 + (id % 8) * 256
      def v(t: Int): Long = (id * 7919 + t * 104729L) % (2 * amp + 1) - amp
      val peak = (0 until n).map(t => math.abs(v(t))).max
      val sumSq = (0 until n).map(t => v(t) * v(t)).sum
      val zc = (1 until n).count(t => (v(t - 1) >= 0) != (v(t) >= 0)).toLong
      assert(feats(id) == ((8000L, n.toLong, peak, sumSq, zc)), s"doc $id")
    }
  }

  test("animated-GIF round-trip: hand-rolled multi-frame encoder decodes " +
      "through the JDK ImageIO reader to exact per-frame pixels") {
    // frames big enough (20x15 = 300 px) to cross the 254-literal LZW
    // clear-code boundary, with values covering the full palette
    val frames = Array.tabulate(4)(f =>
      Array.tabulate(300)(p => (Hashing.family(f.toLong, p) % 256).toInt & 0xff))
    val gif = Multimodal.encodeGrayGif(frames, 20, 15)
    val Some(back) = Multimodal.decodeGifFrames(gif)
    assert(back.length == 4)
    (0 until 4).foreach(f => assert(back(f).sameElements(frames(f)), s"frame $f"))
    // the hot-path hand parser agrees with the ImageIO reader frame-for-frame
    val Some(hand) = Multimodal.parseGifGrayFrames(gif)
    assert(hand.length == 4)
    (0 until 4).foreach(f => assert(hand(f).sameElements(frames(f)), s"hand $f"))
    // ...and decodes REAL compressed LZW: a grayscale image written by
    // the JDK's own GIF writer (variable code widths, table growth —
    // nothing like our literal-only encoder's output)
    val big = java.awt.image.BufferedImage.TYPE_BYTE_GRAY
    val img = new java.awt.image.BufferedImage(64, 48, big)
    (0 until 48).foreach(y => (0 until 64).foreach { x =>
      // runs + repetition so LZW actually builds long table entries
      img.getRaster.setSample(x, y, 0, if ((x / 7 + y / 5) % 2 == 0) 200 else (x + y) % 256)
    })
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "gif", bos))
    val jdkGif = bos.toByteArray
    val Some(hand2) = Multimodal.parseGifGrayFrames(jdkGif)
    val Some(ref2) = Multimodal.decodeGifFrames(jdkGif)
    assert(hand2.length == 1 && ref2.length == 1)
    assert(hand2(0).sameElements(ref2(0)))
    // single-frame and single-pixel edge shapes
    val Some(one) = Multimodal.decodeGifFrames(
      Multimodal.encodeGrayGif(Array(Array(0), Array(255)), 1, 1))
    assert(one.length == 2 && one(0)(0) == 0 && one(1)(0) == 255)
    assert(Multimodal.decodeGifFrames(null).isEmpty)
    assert(Multimodal.decodeGifFrames("not a gif".getBytes).isEmpty)
    assert(Multimodal.parseGifGrayFrames(null).isEmpty)
    assert(Multimodal.parseGifGrayFrames("not a gif".getBytes).isEmpty)
    assert(Multimodal.parseGifGrayFrames(
      Multimodal.encodePng(4, 4, 1L)).isEmpty)
    // frame-sample stats equal the vidLum formula (what the q181 oracle
    // replays)
    import spark.implicits._
    val media = Multimodal.withSyntheticGif((0L until 40L).toDF("doc_id"), "doc_id")
    val got = Multimodal.sampleGifFrameStats(media, "payload", "doc_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    val want = (for {
      id <- 0L until 40L
      nf = (4 + id % 5).toInt
      f <- 0 until nf by 2
    } yield (id, f.toLong) ->
      (nf.toLong, Multimodal.vidFrameLums(id, f).map(_.toLong).sum)
    ).toMap
    assert(got == want)
  }

  test("acoustic dedup: decoded-envelope fingerprint equals the clip " +
      "formula; same-class clips cluster, different classes don't") {
    import spark.implicits._
    // formula-side fingerprint (what the q182 oracle computes)
    def formulaFp(id: Long, classes: Int): Long = {
      val c = id % classes
      val n = (1600 + (c % 16) * 16).toInt
      val amp = 900 + (c % 4) * 300
      val m = 2 * amp + 1
      val t0 = (id % n).toInt
      val sums = new Array[Long](8); val cnts = new Array[Long](8)
      (0 until n).foreach { t =>
        val base = (c * 104729 + t * 7919L) % m - amp
        val v = if (t == t0) base ^ 1L else base
        val b = (t * 8L / n).toInt
        sums(b) += math.abs(v); cnts(b) += 1
      }
      (0 until 8).map(b => ((sums(b) / (cnts(b) * 16)) & 0x7f) << (7 * b))
        .reduce(_ | _)
    }
    val media = Multimodal.withSyntheticClassWav(
      (0L until 60L).toDF("doc_id"), "doc_id", classes = 12)
    val sig = Multimodal.withAudioFingerprint(media, "payload")
    val got = sig.select(col("doc_id"), col("audio_fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L until 60L).foreach { id =>
      assert(got(id) == formulaFp(id, 12), s"doc $id")
    }
    // cluster resolution: min-id keeper per fingerprint
    val clusters = Multimodal.audioDedup(
        sig.select(col("doc_id"), col("audio_fp")), "doc_id")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2)))
      .toMap
    val byFp = (0L until 60L).groupBy(formulaFp(_, 12))
    byFp.values.foreach { ids =>
      val keeper = ids.min
      ids.foreach { id =>
        assert(clusters(id) == ((keeper, id != keeper)), s"doc $id")
      }
    }
    // the fixture must actually produce shared fingerprints AND >1 cluster
    assert(byFp.size < 60 && byFp.size > 1)
    // junk payloads get a null fingerprint
    val junk = Seq((1L, Array[Byte](1, 2, 3))).toDF("doc_id", "payload")
    assert(Multimodal.withAudioFingerprint(junk, "payload")
      .collect().head.isNullAt(2))
  }

  test("video dedup: decoded frame hashes equal the formula hashes, " +
      "same-class videos share nf-1 frames and cluster to the min id") {
    import spark.implicits._
    val classes = 7
    def formulaHash(lums: Array[Int]): (Long, Long) =
      Multimodal.aHashOfLums(lums)
    val media = Multimodal.withSyntheticClassGif(
      (0L until 40L).toDF("doc_id"), "doc_id", classes)
    val fh = Multimodal.withFrameHashes(media, "payload", "doc_id")
    val got = fh.collect()
      .groupBy(_.getLong(0))
      .map { case (id, rows) =>
        id -> rows.map(r => (r.getLong(2), r.getLong(3))).toSet }
    (0L until 40L).foreach { id =>
      val c = id % classes
      val nf = (4 + c % 5).toInt
      val want = ((0 until nf - 1)
        .map(f => formulaHash(Multimodal.classFrameLums(c, f))) :+
        formulaHash(Multimodal.noiseFrameLums(id))).toSet
      assert(got(id) == want, s"doc $id")
      // same-class docs share exactly the nf-1 class frames
      val other = id + classes
      if (other < 40L)
        assert((got(id) intersect got(other)).size == nf - 1, s"pair $id")
    }
    // cross-class pairs share nothing
    assert((got(0L) intersect got(1L)).isEmpty)
    // keep-one clusters resolve to the class minimum; everything else dup
    val clusters = Multimodal.videoDedup(fh, "doc_id", minShared = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2)))
      .toMap
    (0L until 40L).foreach { id =>
      val keeper = id % classes // class min in 0..classes-1
      assert(clusters(id) == ((keeper, id != keeper)), s"doc $id")
    }
    // under-threshold pairs never become edges: with minShared above the
    // max shared count, every doc is its own cluster
    val solo = Multimodal.videoDedup(fh, "doc_id", minShared = 9)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L until 40L).foreach(id => assert(solo(id) == id))
  }

  test("scene cuts: decoded deltas match the ramp+cut formula — one cut " +
      "at frame k, intra-scene delta exactly 128") {
    import spark.implicits._
    val media = Multimodal.withSyntheticSceneGif(
      (0L until 30L).toDF("doc_id"), "doc_id")
    val got = Multimodal.sceneChangeStats(media, "payload", "doc_id", 1000L)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3), r.getLong(4)))
      .toMap
    def base(prefix: String, id: Long): Array[Int] = {
      val md = java.security.MessageDigest.getInstance("MD5")
      (0 until 4).flatMap { blk =>
        md.reset()
        md.digest(s"$prefix$id:$blk".getBytes("UTF-8")).map(_ & 0x7f)
      }.toArray
    }
    (0L until 30L).foreach { id =>
      val nf = (6 + id % 3).toInt
      val k = (2 + id % 3).toInt
      val ba = base("sa", id); val bb = base("sb", id)
      val cutDelta = (0 until 64).map { p =>
        math.abs((bb(p) + 2 * k) - (ba(p) + 2 * (k - 1))).toLong }.sum
      val want = (nf.toLong, 1L, k.toLong, (nf - 2) * 128L + cutDelta)
      assert(got(id) == want, s"doc $id")
    }
    // a threshold above the cut delta reports zero cuts and a null first
    val none = Multimodal.sceneChangeStats(media, "payload", "doc_id",
        1000000L).collect()
    assert(none.forall(r => r.getLong(2) == 0L && r.isNullAt(3)))
  }

  test("NFC normalization: kernel equals java.text.Normalizer, ASCII fast " +
      "path skips it, and the SQL registration serves the same kernel") {
    import graft.functions.SketchExpressions
    import org.apache.spark.unsafe.types.UTF8String
    def nfc(s: String): String =
      SketchEval_nfc(s)
    def SketchEval_nfc(s: String): String =
      graft.functions.SketchEval.nfcNormalize(UTF8String.fromString(s)).toString
    // composition cases: combining acute/diaeresis, already-composed,
    // Hangul jamo, and a non-starter ordering case
    assert(nfc("é") == "é")
    assert(nfc("ö") == "ö")
    assert(nfc("é") == "é")
    assert(nfc("각") == "각") // jamo -> precomposed GAG
    assert(nfc("ascii only") == "ascii only")
    // parity with the JDK reference on mixed content
    val mixed = "mix é and ö with plain text 123"
    assert(nfc(mixed) == java.text.Normalizer.normalize(
      mixed, java.text.Normalizer.Form.NFC))
    // ASCII fast path returns the SAME UTF8String reference (no copy)
    val asciiU = UTF8String.fromString("plain ascii")
    assert(graft.functions.SketchEval.nfcNormalize(asciiU) eq asciiU)
    // column + SQL registration paths agree
    import spark.implicits._
    graft.functions.text.register(spark)
    val df = Seq("é", "café", "öö").toDF("s")
    val viaCol = df.select(SketchExpressions.nfc_normalize($"s")).as[String].collect()
    df.createOrReplaceTempView("nfc_in")
    val viaSql = spark.sql("SELECT nfc_normalize(s) FROM nfc_in")
      .as[String].collect()
    assert(viaCol.sameElements(Array("é", "café", "öö")))
    assert(viaSql.sameElements(viaCol))
  }

  test("prefix_cosines == per-tier sliced cosine, bit for bit") {
    import graft.functions.VectorExpressions
    val rnd = new scala.util.Random(7)
    val dims = Seq(8, 16, 32, 64)
    val rows = (0 until 50).map { i =>
      (i.toLong, Seq.fill(64)(rnd.nextFloat() * 2 - 1))
    }
    val q = Array.fill(64)(rnd.nextFloat() * 2 - 1)
    val df = rows.toDF("id", "v")
      .select($"id", $"v".cast("array<float>").as("v"),
        typedLit(q.toSeq).cast("array<float>").as("q"))
    val fused = df.select($"id",
        VectorExpressions.prefix_cosines($"v", $"q", dims).as("cs"))
      .as[(Long, Seq[Double])].collect().toMap
    // reference: Ann.cosineArrays on the materialized prefix — the same
    // sequential double accumulation the sliced-column plan ran, so the
    // kernel's snapshot-at-boundary trick must match EXACTLY (==), not
    // within epsilon: ranking tie-breaks depend on it
    rows.foreach { case (id, v) =>
      dims.zipWithIndex.foreach { case (d, k) =>
        val ref = graft.ops.Ann.cosineArrays(
          v.take(d).toArray, q.take(d))
        assert(fused(id)(k) == ref, s"id=$id d=$d")
      }
    }
    // ragged input: cosine over the common prefix (min length rule)
    val short = df.select(VectorExpressions
        .prefix_cosines(slice($"v", 1, 12), $"q", dims).as("cs"))
      .as[Seq[Double]].head()
    val vv = rows.head._2
    assert(short(1) == graft.ops.Ann.cosineArrays(
      vv.take(12).toArray, q.take(12)))
    assert(short(1) == short(2) && short(2) == short(3))
    // unsorted dims rejected at construction
    intercept[IllegalArgumentException] {
      VectorExpressions.prefix_cosines($"v", $"q", Seq(16, 8))
    }
  }

  // ---- round-11 review-fix regressions ---------------------------------

  test("simhashNearDups maxHamming=0: exact-fingerprint dups found and the " +
      "64-bit chunk mask is not zero (shift-mod-width)") {
    val a = (1 to 40).map(i => s"tok$i").mkString(" ")
    val df = Seq((1L, a), (2L, a), (3L, "unrelated words entirely"))
      .toDF("doc_id", "text")
    val pairs = Dedup.simhashNearDups(df, "text", "doc_id", maxHamming = 0)
      .collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
    // mask regression: with mask 0 every row lands in ONE bucket, so the
    // unrelated doc would also appear as a candidate pre-filter; assert
    // the banded chunk really carries fingerprint bits by checking two
    // different fingerprints get different chunks
    val fp1 = Dedup.simhash64(a); val fp3 = Dedup.simhash64("unrelated words entirely")
    assert(fp1 != fp3)
  }

  test("embeddingNearDups bits=32 bands=1: Int-width band mask does not " +
      "collapse to zero") {
    def vec(seed: Int): Array[Float] =
      Array.tabulate(16)(i => (Hashing.family(seed.toLong, i) % 1000).toFloat / 1000f)
    val planted = vec(5).zipWithIndex.map { case (v, i) =>
      if (i == 0) v + 0.001f else v }
    val rows = (1 to 50).map(i => (i.toLong, vec(i))) :+ (999L, planted)
    val df = rows.toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDups(df, "embedding", "vec_id",
      threshold = 0.999, bits = 32, bands = 1).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).contains((5L, 999L)))
  }

  test("bloomCrossDedupByDigest: null digest lands in the report as new, " +
      "not dropped") {
    val da = "a" * 32; val db = "b" * 32 // digests must be md5-shaped
    val base = Seq((1L, da)).toDF("doc_id", "digest")
    val inc = Seq((10L, da), (11L, db), (12L, null.asInstanceOf[String]))
      .toDF("doc_id", "digest")
    val out = Dedup.bloomCrossDedupByDigest(base, inc, "doc_id", "digest")
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(out.size == 3, s"one row per incoming row: $out")
    assert(out(12L) == "new")
    assert(out(10L) == "dup_of_base")
  }

  test("ngramJaccardNearDups rejects non-integral id columns loudly") {
    val df = Seq(("a", "alpha bravo"), ("b", "alpha bravo"))
      .toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Dedup.ngramJaccardNearDups(df, "text", "doc_id")
    }
    assert(e.getMessage.contains("integral"))
  }

  test("envelopeJoin rejects non-positive cellSize") {
    val df = Seq((1L, 0.0, 0.0, 1.0, 1.0)).toDF("id", "xmin", "ymin", "xmax", "ymax")
    intercept[IllegalArgumentException] {
      SpatialJoin.envelopeJoin(df, df, "id", "id", cellSize = 0.0)
    }
    intercept[IllegalArgumentException] {
      SpatialJoin.envelopeJoin(df, df, "id", "id", cellSize = -1.0)
    }
  }

  test("cosine pins NaN components to 0.0 (Column and JVM twins)") {
    assert(Ann.cosineArrays(Array(Float.NaN, 1f), Array(1f, 1f)) == 0.0)
    assert(Ann.cosineArrays(Array(0f, 0f), Array(1f, 1f)) == 0.0)
    val df = Seq(
      (1L, Array(Float.NaN, 1f)),
      (2L, Array(0.9f, 1f)),
      (3L, Array(1f, 1f))).toDF("vec_id", "embedding")
    val top = Ann.bruteTopK(df.filter($"vec_id" =!= 3),
      "embedding", "vec_id", Array(1f, 1f), 2).collect()
    assert(top.head.getLong(0) == 2L,
      s"a NaN-component vector must not rank #1: ${top.toSeq}")
  }

  test("semanticDecontam with an empty eval set annotates the cosine " +
      "floor, not NULL") {
    val corpus = Seq((1L, Array(1f, 0f))).toDF("vec_id", "embedding")
    val evalSet = Seq((9L, Array(1f, 0f))).toDF("vec_id", "embedding")
      .filter($"vec_id" === -1) // empty
    val out = Ann.semanticDecontam(corpus, evalSet, "embedding").collect()
    assert(!out.head.isNullAt(out.head.fieldIndex("max_sim_u")))
    assert(out.head.getAs[Long]("max_sim_u") == -100000L)
    // and filters behave: nothing is "contaminated"
    assert(Ann.semanticDecontam(corpus, evalSet, "embedding")
      .filter($"max_sim_u" >= 99000).count() == 0)
  }

  test("ivfCentroids fails loudly on id spaces the stride recipe cannot " +
      "sample (all-odd ids, even stride)") {
    def vec(seed: Int): Array[Float] =
      Array.tabulate(8)(i => (Hashing.family(seed.toLong, i) % 1000).toFloat / 1000f)
    // 64 rows, ids 1,3,5,...,127: stride = 64/8 = 8 (even) -> no id % 8 == 0
    val df = (0 until 64).map(i => (2L * i + 1, vec(i))).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Ann.ivfCentroids(df, "embedding", "vec_id", 8)
    }
    assert(e.getMessage.contains("dense"))
  }

  test("exactBest: STRING ids tie-break deterministically (lowest id)") {
    // -col(id) silently null-cast string ids to double, making every
    // equal-quality tie resolve by shuffle order
    val df = Seq(("doc-b", "same text", 10L), ("doc-a", "same text", 10L),
      ("doc-c", "other", 5L)).toDF("doc_id", "text", "q")
    val kept = Dedup.exactBest(df, "text", "doc_id", "q").collect()
      .map(_.getString(0)).toSet
    assert(kept == Set("doc-a", "doc-c"), s"lowest id must win ties: $kept")
  }

  test("WAV: trailing odd-length chunk with the pad byte omitted " +
      "returns None, never throws") {
    val base = Multimodal.encodeWavPcm16(Array[Short](5, -5), 8000)
    // append a chunk header claiming odd length 3 with only 3 payload
    // bytes and NO pad byte — position(limit+1) used to throw
    val bb = java.nio.ByteBuffer.allocate(base.length + 8 + 3)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put(base).put("LIST".getBytes("US-ASCII")).putInt(3)
      .put(Array[Byte](1, 2, 3))
    // data chunk was already consumed before the trailing junk, so the
    // samples still parse; the point is NO IllegalArgumentException
    assert(Multimodal.parseWavPcm16(bb.array())
      .exists(_._2.sameElements(Array[Short](5, -5))))
    // same shape but the odd chunk sits BETWEEN fmt and data: clamped
    // skip lands at limit, loop exits, returns None (no data found)
    val bb2 = java.nio.ByteBuffer.allocate(36 + 8 + 3)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb2.put(base, 0, 36).put("LIST".getBytes("US-ASCII")).putInt(3)
      .put(Array[Byte](1, 2, 3))
    assert(Multimodal.parseWavPcm16(bb2.array()).isEmpty)
  }

  test("exact/exactBest follow the normalizeNN contract: null and empty " +
      "text dedup together") {
    val df = Seq((1L, null.asInstanceOf[String]), (2L, ""), (3L, "real text"))
      .toDF("doc_id", "text")
    val kept = Dedup.exact(df, "text", "doc_id").collect()
    assert(kept.length == 2, s"null+empty must share one digest: ${kept.toSeq}")
    assert(kept.map(_.getLong(0)).toSet == Set(1L, 3L))
    val best = Dedup.exactBest(
      df.withColumn("q", $"doc_id" * 10), "text", "doc_id", "q").collect()
    assert(best.length == 2)
    assert(best.map(_.getLong(0)).toSet == Set(2L, 3L), "highest q wins")
  }

  test("kernel guards (r11 review): span_stats clamps like scrub_spans, " +
      "bloom accepts uppercase hex, probes/pairs/dims validate loudly") {
    import graft.functions.{SketchEval, SketchExpressions}
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    // span_stats: negative start clamps to 0 (2 tokens removed, 1 span)
    val r = SketchEval.spanStats(new GenericArrayData(Array[Any](-1)), 3, 10)
    assert(r.getLong(0) == 2 && r.getLong(1) == 1, r.toString)
    // a span with no effective coverage counts nothing
    val r2 = SketchEval.spanStats(new GenericArrayData(Array[Any](-5)), 3, 10)
    assert(r2.getLong(0) == 0 && r2.getLong(1) == 0, r2.toString)
    // bloom: uppercase hex digests hash to the same positions as lowercase
    val bm1 = new Array[Long](4); val bm2 = new Array[Long](4)
    SketchEval.bloomSet(UTF8String.fromString("abcdef0123456789" * 2), bm1, 4)
    SketchEval.bloomSet(UTF8String.fromString("ABCDEF0123456789" * 2), bm2, 4)
    assert(bm1.toSeq == bm2.toSeq)
    intercept[IllegalArgumentException] {
      SketchEval.bloomSet(UTF8String.fromString("zzzzzzzz" * 4), new Array[Long](4), 1)
    }
    // lsh_probes bits out of range is a construction-time error
    intercept[IllegalArgumentException] {
      SketchExpressions.lsh_probes(lit(1), 33)
    }
    // sorted_pairs triangular-size overflow guard
    intercept[IllegalArgumentException] {
      SketchEval.sortedPairs(new GenericArrayData(
        Array.tabulate(65536)(i => i.toLong.asInstanceOf[Any])))
    }
    // token_hash_counts dims guard
    intercept[IllegalArgumentException] {
      SketchExpressions.token_hash_counts(lit("a"), 0)
    }
    // char_ngram_codes: the all-NUL gram (code 0) still dedups
    val codes = SketchEval.charNgramCodes(
      UTF8String.fromString("\u0000\u0000\u0000"), 2)
    assert(codes.numElements() == 1 && codes.getLong(0) == 0L, codes.toString)
    // ivf_assign: empty centroid table is the -1 sentinel, not list 0
    val a = Seq((1L, Array(1f, 0f))).toDF("id", "v")
      .select(SketchExpressions.ivf_assign($"v",
        Array.empty[Array[Float]]).as("c")).collect()
    assert(a.head.getInt(0) == -1)
    // dot dimension mismatch is loud, not a silent prefix dot
    val e = intercept[Exception] {
      Seq((Array(1f, 2f), Array(1f, 2f, 3f))).toDF("a", "b")
        .select(graft.functions.VectorExpressions.dot_f($"a", $"b")).collect()
    }
    assert(e.getMessage != null)
  }

  test("sorted_intersect_count_long == size(array_intersect) on sorted " +
      "duplicate-free long sets (r17: videoNearDups exact-count kernel)") {
    val rnd = new scala.util.Random(11)
    val rows = (1 to 200).map { i =>
      val a = Array.fill(rnd.nextInt(12))(rnd.nextLong()).distinct.sorted
      val b =
        (Array.fill(rnd.nextInt(12))(rnd.nextLong()) ++
          a.take(rnd.nextInt(a.length + 1))).distinct.sorted
      (i, a, b)
    }
    val df = rows.toDF("i", "a", "b")
      .select($"i",
        graft.functions.SketchExpressions
          .sorted_intersect_count_long($"a", $"b").as("k"),
        size(array_intersect($"a", $"b")).cast("long").as("ref"))
    assert(df.filter($"k" =!= $"ref").count() == 0)
    // empty sides and the signed-order boundary (negative longs sort
    // before positive in the kernel exactly as in array_sort)
    val edge = Seq(
      (Array.empty[Long], Array(1L, 2L)),
      (Array(-5L, -1L, 3L), Array(-5L, 3L, 7L)),
      (Array(Long.MinValue, 0L, Long.MaxValue),
        Array(Long.MinValue, Long.MaxValue)))
      .toDF("a", "b")
      .select(graft.functions.SketchExpressions
        .sorted_intersect_count_long($"a", $"b").as("k"))
      .collect().map(_.getLong(0)).toSeq
    assert(edge == Seq(0L, 2L, 2L), edge.toString)
  }

  test("hashed_intersect_count == exact string intersection, including " +
      "forced hash ties (r17: q112 merge acceleration, not approximation)") {
    val rnd = new scala.util.Random(13)
    val rows = (1 to 100).map { i =>
      val a = Array.fill(rnd.nextInt(20))("s" + rnd.nextInt(40)).distinct
      val b = Array.fill(rnd.nextInt(20))("s" + rnd.nextInt(40)).distinct
      (i, a, b)
    }
    val df = rows.toDF("i", "a", "b")
      .select($"i",
        expr("array_sort(transform(a, x -> named_struct('h', xxhash64(x), 's', x)))")
          .as("ha"),
        expr("array_sort(transform(b, x -> named_struct('h', xxhash64(x), 's', x)))")
          .as("hb"),
        size(array_intersect($"a", $"b")).cast("long").as("ref"))
      .select($"i", graft.functions.SketchExpressions
        .hashed_intersect_count($"ha", $"hb").as("k"), $"ref")
    assert(df.filter($"k" =!= $"ref").count() == 0)
    // forced ties: identical h, differing s — the kernel must fall back
    // to string compares and still count the exact set intersection
    // (two colliding distinct strings on one side, one shared)
    val tied = Seq((
      Seq((1L, "aa"), (1L, "ab"), (2L, "zz")),
      Seq((1L, "ab"), (2L, "zz"), (3L, "q")))).toDF("a", "b")
      .select(
        expr("array_sort(transform(a, x -> named_struct('h', x._1, 's', x._2)))")
          .as("ha"),
        expr("array_sort(transform(b, x -> named_struct('h', x._1, 's', x._2)))")
          .as("hb"))
      .select(graft.functions.SketchExpressions
        .hashed_intersect_count($"ha", $"hb").as("k"))
      .head().getLong(0)
    assert(tied == 2L, s"tie path counted $tied, expected 2 (ab, zz)")
  }

  test("hashed_intersect_count fails loudly, naming itself, on a null " +
      "element, h or s") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    import graft.functions.SketchEval
    def elem(h: java.lang.Long, s: String): InternalRow =
      InternalRow(h, if (s == null) null else UTF8String.fromString(s))
    def arr(xs: InternalRow*) = new GenericArrayData(xs.toArray[Any])
    val ok = arr(elem(1L, "a"), elem(2L, "b"))
    for ((what, bad) <- Seq("array element" -> arr(elem(1L, "a"), null),
        "h field" -> arr(elem(null, "a")),
        "s field" -> arr(elem(1L, null)))) {
      val e = intercept[IllegalArgumentException](SketchEval.hashedIntersectCount(ok, bad))
      assert(e.getMessage.contains("hashed_intersect_count") &&
        e.getMessage.contains(what), e.getMessage)
    }
    // the generated-code path: the task fails with the same cause
    val df = spark.range(0, 4).select(expr("array(named_struct('h', id, 's', " +
        "cast(id as string)))").as("a"),
      expr("array(named_struct('h', id, 's', if(id = 2, null, cast(id as string))))").as("b"))
      .select(graft.functions.SketchExpressions.hashed_intersect_count($"a", $"b"))
    val e = intercept[Exception](df.collect())
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(causes.exists(c => c.isInstanceOf[IllegalArgumentException] &&
      c.getMessage.contains("hashed_intersect_count: null s field")), causes)
  }
}
