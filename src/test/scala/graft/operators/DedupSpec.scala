package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SparkTestSession
import graft.core.Tables

/** Dedup operator semantics: exact-dedup survivor choice, shingle guards,
  * LSH recall vs the exact inverted-index miner on the real documents table.
  */
class DedupSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sfDir      = "/root/testdata/sf0.001"

  test("exactDedupRows keeps the row with the smallest pick per digest") {
    import spark.implicits._
    val df = Seq(
      (1L, "same text"), (2L, "same text"), (3L, "other text"))
      .toDF("id", "text")
    val got = Dedup
      .exactDedupRows(df, sha2(col("text"), 256), col("id"))
      .select("id")
      .collect()
      .map(_.getLong(0))
      .sorted
    assert(got === Array(1L, 3L))
  }

  test("shingles: docs shorter than n yield an EMPTY set (not bogus shingles)") {
    import spark.implicits._
    val df = Seq("only two").toDF("text")
    val got = df.select(Dedup.shingleSet(col("text")).as("s")).head().getAs[scala.collection.Seq[String]]("s")
    assert(got.isEmpty)
  }

  test("minHashSigCol == per-slot composed minHash; empty hash set => NULL signature") {
    val docs = Tables.documents(spark, sfDir).limit(100)
    val native = Dedup
      .minHashSigCol(Dedup.shingleHashes(col("text"), 3), 8)
    val composed = (0 until 8).map { j =>
      val (a, b) = Dedup.perm(j)
      Dedup.minHash(Dedup.shingleHashes(col("text"), 3), a, b)
    }
    val rows = docs
      .select(
        (native.as("sig") +: composed.zipWithIndex.map { case (c, j) => c.as(s"c$j") }): _*)
      .collect()
    rows.foreach { r =>
      val sig = r.getAs[scala.collection.Seq[Long]]("sig")
      (0 until 8).foreach(j => assert(sig(j) === r.getLong(1 + j)))
    }
    // empty input
    import spark.implicits._
    val empty = Seq("xy")
      .toDF("text")
      .select(Dedup.minHashSigCol(Dedup.shingleHashes(col("text"), 3), 8))
      .head()
    assert(empty.isNullAt(0))
    // registered as a SQL function via SparkSessionExtensions
    val sql = spark
      .sql("SELECT minhash_sig(shingle_hashes('a b c d e', 3), 4) AS s")
      .head()
      .getAs[scala.collection.Seq[Long]]("s")
    assert(sql.length === 4)
  }

  test("jaccardPairs finds identical and near-identical docs, not disjoint ones") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f g h"),
      (2L, "a b c d e f g h"),        // identical -> jaccard 1.0
      (3L, "a b c d e f g x"),        // near: shares 5 of 7 shingles
      (4L, "p q r s t u v w"))        // disjoint
      .toDF("doc_id", "text")
    val pairs = Dedup
      .jaccardPairs(docs, "doc_id", "text", threshold = 0.5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(p => (p._1, p._2))
    assert(pairs.map(p => (p._1, p._2)).toSeq === Seq((1L, 2L), (1L, 3L), (2L, 3L)))
    assert(pairs.head._3 === 1.0)
  }

  test("prefix filtering loses NO pairs: operator == driver-side brute force on random docs") {
    import spark.implicits._
    val rnd   = new scala.util.Random(17)
    val vocab = Vector("a", "b", "c", "d", "e", "f")
    // small vocab + mutation-of-a-base-doc mix => many pairs straddling the
    // 0.8 threshold from both sides
    val base = Seq.fill(12)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val docs = (0 until 80).map { i =>
      if (i % 3 == 0) {
        val toks = base.split(" ").toBuffer
        toks(rnd.nextInt(toks.size)) = vocab(rnd.nextInt(vocab.size))
        (i.toLong, toks.mkString(" "))
      } else
        (i.toLong, Seq.fill(6 + rnd.nextInt(10))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val got = Dedup
      .jaccardPairs(docs.toDF("doc_id", "text"), "doc_id", "text", n = 3, threshold = 0.8)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    // driver-side brute force over ALL pairs (no filtering of any kind)
    def sh(t: String): Set[Seq[String]] =
      t.split(" ", -1).toSeq.sliding(3).filter(_.size == 3).toSet
    val sets = docs.map { case (id, t) => id -> sh(t) }
    val expect = (for {
      (ia, sa) <- sets; (ib, sb) <- sets if ia < ib
      inter = (sa intersect sb).size
      union = sa.size + sb.size - inter
      if union > 0 && inter.toDouble / union >= 0.8
    } yield (ia, ib)).toSet
    assert(got === expect)
  }

  test("lshNearDedupRows == nearDedupRows where LSH has full recall") {
    val docs = Tables.documents(spark, sfDir)
    val viaLsh = Dedup.lshNearDedupRows(docs, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val exact = Dedup.nearDedupRows(docs, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(viaLsh === exact)
  }

  test("LSH near-dup == exact miner on the documents table (full recall at j>=0.8)") {
    val docs  = Tables.documents(spark, sfDir)
    val exact = Dedup.jaccardPairs(docs, "doc_id", "text", threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.lshNearDupPairs(docs, "doc_id", "text", threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact))          // verify step guarantees no false positives
    assert(exact.nonEmpty)               // the fixture plants near-dups
    val recall = lsh.size.toDouble / exact.size
    assert(recall >= 0.9, s"LSH recall $recall over ${exact.size} true pairs")
  }

  test("simHashNearDupPairs: pigeonhole buckets lose no pair vs brute-force hamming") {
    val docs = Tables.documents(spark, sfDir).limit(120).cache()
    val got = Dedup
      .simHashNearDupPairs(docs, "doc_id", "text", maxHamming = 1)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .toSet
    val sims = Dedup.simHash16(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val expect = (for {
      (ia, sa) <- sims; (ib, sb) <- sims if ia < ib
      ham = java.lang.Long.bitCount(sa ^ sb)
      if ham <= 1
    } yield (ia, ib, ham)).toSet
    assert(got === expect)
    docs.unpersist()
  }

  test("connectedComponents: labels match driver-side union-find; policies differ on a star") {
    import spark.implicits._
    // star through the MAX id: edges (1,3),(2,3) — one component {1,2,3},
    // but no (1,2) pair, so the greedy rule would keep 2
    val pairs = Seq((1L, 3L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val labels = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))

    val docs = Seq(1L, 2L, 3L, 5L, 10L, 11L).toDF("doc_id") // 5 isolated
    val cc = Dedup.ccNearDedupRows(docs, "doc_id", pairs)
      .collect().map(_.getLong(0)).toSet
    assert(cc === Set(1L, 5L, 10L)) // min per component + untouched docs

    // cross-check on real mined pairs: survivors == driver-side union-find
    val real   = Tables.documents(spark, sfDir)
    val mined  = Dedup.jaccardPairs(real, "doc_id", "text", 3, 0.8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    mined.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expectDrops = parent.keys.map(k => (k, find(k))).filter { case (k, r) => k != r }.map(_._1).toSet
    val gotSurvivors = Dedup.ccNearDedupRows(real, "doc_id",
      Dedup.jaccardPairs(real, "doc_id", "text", 3, 0.8))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val allDocs = real.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(gotSurvivors === allDocs -- expectDrops)
  }

  test("connectedComponents collapses a 64-chain within log rounds; distributed == driver fallback") {
    import spark.implicits._
    // a 64-node PATH: diameter 63 — star contraction collapses it in
    // ~log2(64) rounds (the distributed entry forces the DISTRIBUTED
    // rounds — the convergence claim is about them, not the driver fallback)
    val chain = (1L until 64L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponentsDistributed(chain, maxIters = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === (1L to 64L).map(_ -> 1L).toMap)

    // random graph with a self-pair-only node (99): the distributed rounds
    // and the driver union-find give identical labels
    val rnd = new scala.util.Random(13)
    val edges = (1 to 120).map(_ => (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter { case (a, b) => a != b } :+ ((99L, 99L))
    val df   = edges.toDF("id_a", "id_b")
    val dist = Dedup.connectedComponentsDistributed(df)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val drv  = Dedup.connectedComponents(df)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist === drv)
    assert(dist(99L) === 99L)
    assert(dist.keySet === edges.flatMap { case (a, b) => Seq(a, b) }.toSet)
  }

  test("connectedComponents id contract: int ids label like long ids; string ids are rejected") {
    import spark.implicits._
    val longs = Seq((1L, 3L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val ints  = longs.select(col("id_a").cast("int"), col("id_b").cast("int"))
    def labels(df: org.apache.spark.sql.DataFrame, distributed: Boolean) =
      (if (distributed) Dedup.connectedComponentsDistributed(df) else Dedup.connectedComponents(df))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    Seq(true, false).foreach { d =>
      assert(labels(ints, d) === labels(longs, d), s"distributed=$d")
    }
    // rows that fail if ever computed: the type check must fire before
    // any Spark job runs
    val strs = spark.range(1).select(
      lit("a").as("id_a"), raise_error(lit("pairs were evaluated")).cast("string").as("id_b"))
    val e = intercept[IllegalArgumentException](Dedup.connectedComponents(strs))
    assert(e.getMessage.contains("'id_a'") && e.getMessage.contains("StringType"), e.getMessage)
  }

  test("connectedComponents: an id wider than long is refused alike on both sides of the gate") {
    // components do no arithmetic on ids, so the id contract is where a
    // value beyond long range stops: before the cast and before any job
    val wide = spark.sql(
      "SELECT CAST('10000000000000000000' AS DECIMAL(20,0)) AS id_a, CAST(1 AS DECIMAL(20,0)) AS id_b")
    val a = intercept[IllegalArgumentException](Dedup.connectedComponents(wide))
    val b = intercept[IllegalArgumentException](Dedup.connectedComponentsDistributed(wide))
    assert(a.getClass === b.getClass && a.getMessage === b.getMessage)
    assert(a.getMessage.contains("DecimalType(20,0)"), a.getMessage)
  }

  test("simHashWidePairs: 62-bit pigeonhole mining == brute force; buckets finer than 16-bit") {
    val docs = Tables.documents(spark, sfDir).limit(120).cache()
    val got = Dedup
      .simHashWidePairs(docs, "doc_id", "text", bits = 62, maxHamming = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .toSet
    val sims = Dedup.simHashWide(docs, "doc_id", "text", bits = 62)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val expect = (for {
      (ia, sa) <- sims; (ib, sb) <- sims if ia < ib
      ham = java.lang.Long.bitCount(sa ^ sb)
      if ham <= 3
    } yield (ia, ib, ham)).toSet
    assert(got === expect)
    // bucket-population: the widest 62-bit chunk (15 bits at maxHamming=3)
    // spreads fingerprints over far more buckets than ANY 16-bit chunking
    // can (max 2^16 total across all its chunks) — the scale rationale.
    val wideChunkVals = sims.map(_._2 & ((1L << 15) - 1)).distinct.length
    val narrowSims    = Dedup.simHash16(docs, "doc_id", "text")
      .collect().map(r => r.getLong(1))
    val narrowChunkVals = narrowSims.map(_ & ((1L << 8) - 1)).distinct.length
    assert(wideChunkVals >= narrowChunkVals,
      s"62-bit chunks should spread at least as well: wide=$wideChunkVals narrow=$narrowChunkVals")
    docs.unpersist()
  }

  test("simHashWide: identical docs equal; near-identical docs land within small hamming") {
    import spark.implicits._
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "the quick brown fox jumps over the lazy cat again and again"),
      (4L, "entirely different words populate this document body here now"))
      .toDF("doc_id", "text")
    val sig = Dedup.simHashWide(df, "doc_id", "text", bits = 62)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sig(1L) === sig(2L))
    val nearHam = java.lang.Long.bitCount(sig(1L) ^ sig(3L))
    val farHam  = java.lang.Long.bitCount(sig(1L) ^ sig(4L))
    assert(nearHam < farHam, s"near=$nearHam far=$farHam")
    // registered as a SQL function via SparkSessionExtensions
    val viaSql = spark
      .sql("SELECT simhash_bits(shingle_hashes('a b c', 1), 62) AS s")
      .head().getLong(0)
    val viaOp = Dedup.simHashWide(Seq((9L, "a b c")).toDF("doc_id", "text"), "doc_id", "text", 62)
      .head().getLong(1)
    assert(viaSql === viaOp)
  }

  test("simHash16 native per-row == composed explode/groupBy formulation") {
    val docs = Tables.documents(spark, sfDir)
    val native = Dedup.simHash16(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val composed = Dedup.simHash16Composed(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(native === composed)
  }

  test("repeatedSpans: planted cross-doc span found once; within-doc repeats don't inflate n_docs") {
    import spark.implicits._
    val span = "w1 w2 w3 w4" // 4-token span planted in docs 1-3
    val docs = Seq(
      (1L, s"$span tail one"),
      (2L, s"head $span"),
      (3L, s"$span mid $span"), // repeated WITHIN the doc: still counts once
      (4L, "totally different words here now"))
      .toDF("doc_id", "text")
    val got = Dedup.repeatedSpans(docs, "doc_id", "text", width = 4, minDocs = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // exactly one span is shared by >= 2 docs, and it is in 3 of them
    val spanHash = docs
      .filter(col("doc_id") === 2L)
      .select(explode(Dedup.shingleHashes(col("text"), 4)).as("h"))
      .collect().map(_.getLong(0)).toSet
    val planted = got.keySet.intersect(spanHash)
    assert(planted.size === 1)
    assert(got(planted.head) === 3L)
    // no span from the disjoint doc appears
    assert(got.values.forall(_ <= 3L) && got.size === 1)
  }

  test("simHash16: identical docs get identical fingerprints; near-dups are close") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "alpha beta gamma delta epsilon zeta eta iota"),
      (4L, "one two three four five six seven eight"))
      .toDF("doc_id", "text")
    val fp = Dedup.simHash16(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    assert(fp(1L) === fp(2L))
    assert(hamming(fp(1L), fp(3L)) < hamming(fp(1L), fp(4L)))
  }

  // an identical-doc cluster: every member shares every band bucket, the
  // unguarded self-join would emit m(m-1)/2 candidates from one key
  private def boilerplate(m: Int) = {
    import spark.implicits._
    ((1 to m).map(i =>
      (i.toLong, "the same boilerplate template text repeated verbatim everywhere")) :+
      (9999L, "a completely different document about unrelated things entirely"))
      .toDF("doc_id", "text")
  }

  test("hot-bucket guard: identical cluster mines a bounded star; below threshold, full clique") {
    val m    = 200
    val docs = boilerplate(m)

    // guard ACTIVE (maxBucket 32 << m): star to the min id — m-1 pairs,
    // all verified at jaccard 1.0, nothing touches the unrelated doc
    val star = Dedup
      .lshNearDupPairs(docs, "doc_id", "text", maxBucket = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(star.length === m - 1)
    assert(star.forall { case (a, _, j) => a === 1L && j === 1.0 })
    assert(star.map(_._2).sorted === (2 to m).map(_.toLong).toArray)

    // guard INACTIVE (default 4096 > m): the exact full clique
    val clique = Dedup.lshNearDupPairs(docs, "doc_id", "text")
    assert(clique.count() === m.toLong * (m - 1) / 2)

    // greedy dedup collapses the cluster to one survivor either way
    val kept = Dedup
      .lshNearDedupRows(docs, "doc_id", "text", maxBucket = 32)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept === Array(1L, 9999L))

    // CC over the star pairs: one component labeled by the min id
    val cc = Dedup.connectedComponents(
      Dedup.lshNearDupPairs(docs, "doc_id", "text", maxBucket = 32))
    assert(cc.filter(col("label") === 1L).count() === m.toLong)
  }

  test("hot-bucket guard: simhash star is bounded and exact-verified") {
    val m    = 150
    val docs = boilerplate(m)
    val star = Dedup
      .simHashWidePairs(docs, "doc_id", "text", maxBucket = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // identical docs: identical fingerprints -> hamming 0 on every star edge
    assert(star.length === m - 1)
    assert(star.forall { case (a, _, h) => a === 1L && h === 0 })
    // unguarded on the same fixture: the quadratic clique (the blowup the
    // guard exists to prevent)
    assert(Dedup.simHashWidePairs(docs, "doc_id", "text").count() === m.toLong * (m - 1) / 2)
  }

  test("hot-bucket guard: incremental step still drops templates against a hot store bucket") {
    import spark.implicits._
    val m = 120
    val store0 = boilerplate(m)
    val (_, store) = Dedup.lshIncrementalStep(store0, "doc_id", "text", None, maxBucket = 16)
    // a new batch: one more template copy + one fresh doc
    val batch = Seq(
      (20000L, "the same boilerplate template text repeated verbatim everywhere"),
      (20001L, "genuinely novel content that matches nothing in the store at all"))
      .toDF("doc_id", "text")
    val (kept, _) = Dedup.lshIncrementalStep(batch, "doc_id", "text", Some(store), maxBucket = 16)
    // the template copy pairs with the store bucket's min id and drops;
    // the novel doc survives
    assert(kept.select("doc_id").collect().map(_.getLong(0)).toSeq === Seq(20001L))
  }

  test("ccBestNearDedupRows: per-cluster argmax by score then min id; graph-absent docs survive") {
    import spark.implicits._
    // components {1,2,3} and {10,11}; 20 is not in the graph
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L))
      .toDF("id", "label")
    val docs = Seq[(Long, Option[Long])](
      (1L, Some(5L)), (2L, Some(9L)), (3L, Some(9L)), // tie at 9 -> min id 2 wins
      (10L, None), (11L, None),                       // all-NULL cluster -> min id 10
      (20L, Some(1L))                                 // own component
    ).toDF("doc_id", "score")
    val kept = Dedup.ccBestNearDedupRows(docs, "doc_id", "score", labels)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(2L, 10L, 20L))
    // NULL loses to any non-null score
    val docs2 = Seq((1L, Option.empty[Long]), (2L, Some(0L)), (3L, Some(-5L)))
      .toDF("doc_id", "score")
    val labels2 = Seq((1L, 1L), (2L, 1L), (3L, 1L)).toDF("id", "label")
    assert(Dedup.ccBestNearDedupRows(docs2, "doc_id", "score", labels2)
      .select("doc_id").collect().map(_.getLong(0)).toSet === Set(2L))
  }

  test("signatureOverlapMatrix: identical sources match all slots, disjoint ones few; empty docs drop") {
    import spark.implicits._
    val texts = (1 to 30).map(i => s"alpha beta gamma delta epsilon token$i run of shared words")
    val docs =
      texts.map(("a", _)) ++ texts.map(("b", _)) ++                  // a == b exactly
        (1 to 30).map(i => ("c", s"zq$i xw$i vv$i uu$i tt$i ss$i")) ++ // c: disjoint vocab
        Seq(("a", "x"), ("c", ""))                                   // shingle-less: ignored
    val m = Dedup.signatureOverlapMatrix(
      docs.toDF("source", "text"), "source", "text")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getInt(2), r.getDouble(3))).toMap
    assert(m.keySet === Set(("a", "b"), ("a", "c"), ("b", "c")))
    assert(m(("a", "b")) === ((8, 1.0)), "identical sources must match every slot")
    assert(m(("a", "c"))._1 <= 2, "disjoint vocabularies should match ~0 slots")
    // union property: per-slot min over docs == signature of the union of
    // the docs' SHINGLE SETS (not of concatenated text, which would invent
    // boundary shingles)
    val docsDf = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val unionSig = docsDf
      .select(explode(Dedup.shingleHashes(col("text"))).as("h"))
      .agg(collect_set("h").as("hs"))
      .select(Dedup.minHashSigCol(col("hs")).as("sig"))
      .select((0 until 8).map(j => element_at(col("sig"), j + 1)): _*)
      .collect().head.toSeq
    val aggSig = Dedup.minHashSigTable(docsDf, "id", "text")
      .agg(min("mh0"), min("mh1"), min("mh2"), min("mh3"),
        min("mh4"), min("mh5"), min("mh6"), min("mh7"))
      .collect().head.toSeq
    assert(aggSig === unionSig, "slot minima must equal the union's signature")
  }

  test("containmentPairs: an excerpt fully inside a long doc is found (directed), " +
    "where symmetric Jaccard misses it; equals the naive all-pairs result") {
    import spark.implicits._
    val excerpt = "alpha beta gamma delta epsilon zeta eta theta"
    val long = excerpt + " " + (1 to 40).map(i => s"filler$i").mkString(" ")
    val docs = Seq(
      (1L, excerpt),                        // contained in 2
      (2L, long),
      (3L, "totally different words here today okay")
    ).toDF("doc_id", "text")
    val got = Dedup
      .containmentPairs(docs, "doc_id", "text", n = 3, threshold = 0.9)
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
      .toMap
    assert(got.keySet === Set((1L, 2L)), s"expected only 1->2, got ${got.keySet}")
    assert(got((1L, 2L)) === 1.0, "every excerpt shingle is in the long doc")
    val jacc = Dedup.jaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.8).count()
    assert(jacc === 0L, "Jaccard at 0.8 must NOT see the excerpt pair — that asymmetry is the point")

    // naive equivalence on a denser corpus: same shingle sets, all directed
    // pairs computed in Scala
    val vocab = Seq("a", "b", "c", "d", "e", "f")
    val rng   = new scala.util.Random(7)
    val corpus = (0L until 30L)
      .map(i => (i, Seq.fill(8 + rng.nextInt(10))(vocab(rng.nextInt(vocab.size))).mkString(" ")))
      .toDF("doc_id", "text")
    val sets = corpus
      .select(col("doc_id"), Dedup.shingleHashes(col("text"), 3).as("sh"))
      .as[(Long, Seq[Long])].collect().toMap.view.mapValues(_.toSet).toMap
    val expected = (for {
      (a, sa) <- sets.toSeq if sa.nonEmpty
      (b, sb) <- sets.toSeq if a != b
      c = sa.intersect(sb).size.toDouble / sa.size
      if c >= 0.6
    } yield (a, b)).toSet
    val mined = Dedup
      .containmentPairs(corpus, "doc_id", "text", n = 3, threshold = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mined === expected, "prefix-filtered mining must equal naive all-pairs")
  }

  test("containmentPairs maxDf guard: hot-shingle-only pairs are cut (documented recall), " +
    "rare-shingle pairs survive, verification precision is untouched") {
    import spark.implicits._
    val boiler = "every page carries this exact footer line"
    // 1/2: boilerplate-only agreement (all shared shingles are hot).
    // 3/4: a genuine rare excerpt pair. 5..24: the crowd making the
    // footer's shingles hot (df >= 22 > maxDf 10).
    val rare = "unique rare excerpt alpha beta gamma delta"
    val docs = (
      Seq(
        (1L, boiler),
        (2L, boiler),
        (3L, rare),
        (4L, rare + " plus extra trailing tokens here now")
      ) ++ (5L to 24L).map(i => (i, s"$boiler filler$i"))
    ).toDF("doc_id", "text")
    val guarded = Dedup
      .containmentPairs(docs, "doc_id", "text", n = 3, threshold = 0.9, maxDf = Some(10L))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(guarded.contains((3L, 4L)), "rare excerpt pair must survive the guard")
    assert(guarded((3L, 4L)) === 1.0, "verification runs on FULL sets: containment exact")
    assert(!guarded.keys.exists { case (a, b) => a <= 2L && b <= 2L },
      "the boilerplate-only pair rides exclusively on hot shingles: cut by contract")
    val exact = Dedup
      .containmentPairs(docs, "doc_id", "text", n = 3, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.contains((1L, 2L)), "without the guard the same pair IS found (exactness default)")
  }

  test("winnowing: ==naive replay, shared-run guarantee, degenerate docs, zero shuffle") {
    import spark.implicits._
    val P = 1000000007L
    // the naive reference replays the definition verbatim: positional
    // trigram poly-hashes, window-of-4 minima, distinct
    def ph(s: String): Long = s.foldLeft(0L)((a, c) => (a * 31 + c.toLong) % P)
    def naive(text: String, k: Int = 3, w: Int = 4): Set[Long] = {
      val tk = text.split(" ", -1)
      val hs = tk.sliding(k).filter(_.length == k).map(sh => ph(sh.mkString(" "))).toVector
      if (hs.isEmpty) Set.empty
      else if (hs.length < w) Set(hs.min)
      else hs.sliding(w).map(_.min).toSet
    }
    val run = "the quick brown fox jumps over the lazy dog"
    val docs = Seq(
      (1L, run),                                 // 9 tokens: 7 hashes, 4 windows
      (2L, s"intro words here $run and a tail"), // shares a 9-token run with doc 1
      (3L, "too short"),                         // < k tokens -> no fingerprints
      (4L, "exactly three tokens"),              // one hash -> one fingerprint
      (5L, "five tokens in this doc")            // 3 hashes < w -> one fp, the min
    ).toDF("doc_id", "text")
    val out = Dedup.winnowing(docs, "doc_id", "text")
    val got = out.collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .groupBy(_._1).map { case (id, fps) => id -> fps.map(_._2).toSet }
    val texts = Map(1L -> run, 2L -> s"intro words here $run and a tail",
      4L -> "exactly three tokens", 5L -> "five tokens in this doc")
    texts.foreach { case (id, t) =>
      assert(got(id) === naive(t), s"doc $id must equal the naive replay")
    }
    assert(!got.contains(3L), "sub-k docs yield no fingerprints")
    assert(got(4L).size === 1 && got(5L).size === 1, "short docs: one global-min fp")
    // the winnowing guarantee: a shared token run of length >= w + k - 1
    // (here 9 >= 6) forces at least one COMMON selected fingerprint
    assert((got(1L) & got(2L)).nonEmpty, "shared run must share a fingerprint")
    // in-row operator: the plan must contain no exchange at all
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"winnowing must be shuffle-free:\n$plan")
  }

  test("winnowPairs: planted copy found; boilerplate riding only on hot fps is cut") {
    import spark.implicits._
    // a 16-token chunk planted in two docs: shared run >= w + k - 1, with
    // enough interior windows to clear minShared = 2
    val chunk = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi"
    val boiler = "license header boilerplate common fragment shared everywhere always"
    val docs = (Seq(
      (1L, s"one two three $chunk four five six"),
      (2L, s"seven eight nine $chunk ten eleven twelve"),
      (3L, "completely unrelated text about other things entirely here")
    ) ++ (10L to 30L).map(i => (i, s"$boiler tail$i"))).toDF("doc_id", "text")
    def pairs(maxBucket: Int) = Dedup
      .winnowPairs(docs, "doc_id", "text", minShared = 2, maxBucket = maxBucket)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val unguarded = pairs(4096)
    assert(unguarded.getOrElse((1L, 2L), 0L) >= 2L, "planted copy must share >= 2 fps")
    assert(!unguarded.keySet.exists { case (a, b) => a == 3L || b == 3L },
      "unrelated doc must pair with nothing")
    assert(unguarded.keySet.exists { case (a, b) => a >= 10L && b >= 10L },
      "boilerplate family pairs exist while unguarded")
    // guard at maxBucket = 10: the 21-doc boilerplate fps are cut; pairs
    // riding ONLY on them disappear, the 2-doc planted pair is untouched
    val guarded = pairs(10)
    assert(guarded.getOrElse((1L, 2L), 0L) === unguarded((1L, 2L)),
      "rare planted pair must survive the hot-fp guard unchanged")
    assert(!guarded.keySet.exists { case (a, b) => a >= 10L && b >= 10L },
      "boilerplate-only pairs must be cut by the guard")
  }

  test("winnowing: fixed-rate sampling — far fewer fingerprints than shingles, none invented") {
    val docs = Tables.documents(spark, sfDir).limit(200).cache()
    try {
      val fps = Dedup.winnowing(docs, "doc_id", "text")
      val perDoc = fps.groupBy("doc_id").count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val hashes = docs
        .select(col("doc_id"), Dedup.shingleHashes(col("text"), 3).as("hh"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
      perDoc.foreach { case (id, n) =>
        // selected set is a subset of the doc's own shingle hashes...
        assert(n <= hashes(id).size.toLong, s"doc $id selected more fps than shingles")
      }
      val fpRows = fps.collect().map(r => (r.getLong(0), r.getLong(1)))
      fpRows.foreach { case (id, fp) =>
        assert(hashes(id).contains(fp), s"doc $id fingerprint $fp not among its shingle hashes")
      }
      // ...and the selection is a genuine sample: ~2/(w+1) of positions, so
      // well under half the distinct hashes on real 40+-token documents
      val totalFp = perDoc.values.sum.toDouble
      val totalSh = hashes.filter { case (k, _) => perDoc.contains(k) }.values.map(_.size).sum.toDouble
      assert(totalFp < 0.6 * totalSh, f"density ${totalFp / totalSh}%.2f not a sample")
    } finally docs.unpersist()
  }

  test("sharedSpans: planted copy measured EXACTLY; split copies don't merge; guard cuts boilerplate") {
    import spark.implicits._
    // 16-token chunk => 14 trigram positions => longest run 14, span = 16
    val chunk = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi"
    val boiler = "license header boilerplate common fragment shared everywhere always"
    val docs = (Seq(
      (1L, s"one two three $chunk four five six"),
      (2L, s"seven eight nine $chunk ten eleven twelve"),
      // the same chunk SPLIT by an interruption: two diagonals, neither 14 long
      (4L, s"alpha beta gamma delta epsilon zeta eta theta XX iota kappa lambda mu nu xi omicron pi"),
      (3L, "completely unrelated text about other things entirely here")
    ) ++ (10L to 30L).map(i => (i, s"$boiler tail$i"))).toDF("doc_id", "text")
    def spans(maxBucket: Int) = Dedup
      .sharedSpans(docs, "doc_id", "text", k = 3, minSpanTokens = 8, maxBucket = maxBucket)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    val got = spans(4096)
    assert(got((1L, 2L))._1 === 16L, "verbatim 16-token chunk measures span 16 exactly")
    // doc 4's interruption caps both halves: 8-token prefix (6 positions ->
    // span 8) survives minSpanTokens = 8; the full 16 must NOT appear
    assert(got((1L, 4L))._1 === 8L, "interrupted copy reports the longest UNBROKEN half")
    assert(!got.keySet.exists { case (a, b) => a == 3L || b == 3L })
    // the boilerplate family shares a 8-token prefix => span 8 pairs exist
    // unguarded, and are cut when the guard prices their fps as hot
    assert(got.keySet.exists { case (a, b) => a >= 10L && b >= 10L })
    val guarded = spans(10)
    assert(guarded((1L, 2L)) === got((1L, 2L)), "rare pair unchanged under the guard")
    assert(!guarded.keySet.exists { case (a, b) => a >= 10L && b >= 10L },
      "boilerplate-only spans cut by the hot-hash guard")
  }
}
