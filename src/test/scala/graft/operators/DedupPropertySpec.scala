package graft.operators

import graft.TestSpark
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, min, when}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property-style dedup invariants over ScalaCheck-generated corpora. */
class DedupPropertySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Min-label propagation to a fixpoint — rounds ≈ component diameter
    * (one neighbor-join + min-aggregate shuffle per round). The
    * independently-derived reference `Dedup.connectedComponents`' star
    * rounds are differentially tested against. */
  private def connectedComponentsMinLabel(pairs: DataFrame, a: String = "da",
                                          b: String = "db"): DataFrame = {
    val (edges, edgesRdd) = Dedup.materializeRound(
      pairs.select(col(a).as("x"), col(b).as("y"))
        .union(pairs.select(col(b).as("x"), col(a).as("y")))
        .distinct())
    var (labels, labelsRdd) = Dedup.materializeRound(
      edges.select(col("x").as("id")).distinct()
        .select(col("id"), col("id").as("rep")))
    var converged = false
    while (!converged) {
      // self rows ride the same shuffle as neighbor propagations, tagged
      // so the aggregate recovers BOTH the new label (min over all) and
      // the previous one (the single self row) in one pass — the
      // convergence probe then reads the materialized round from cache
      // instead of re-running a join against the prior labels (which
      // used to double per-round work)
      val nbr = edges.join(labels.select(col("id").as("y"), col("rep")), "y")
        .select(col("x").as("id"), col("rep"), lit(false).as("self"))
      val round = labels.select(col("id"), col("rep"), lit(true).as("self"))
        .union(nbr)
        .groupBy(col("id"))
        .agg(min(col("rep")).as("rep"),
          min(when(col("self"), col("rep"))).as("prev"))
      val (next, nextRdd) = Dedup.materializeRound(round)
      // first action computes + caches the round; the probe itself scans
      // the cache (and short-circuits at the first changed label)
      converged = next.filter(col("rep") =!= col("prev")).isEmpty
      labelsRdd.unpersist(blocking = false)
      labels = next.select(col("id"), col("rep"))
      labelsRdd = nextRdd
    }
    edgesRdd.unpersist(blocking = false)
    labels
  }

  private val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon",
    "zeta", "eta", "theta", "iota", "kappa")
  private def corpus(n: Int, seed: Long): Seq[String] = {
    val g = Gen.listOfN(n, Gen.listOfN(12, Gen.oneOf(vocab)).map(_.mkString(" ")))
    g(Gen.Parameters.default, Seed(seed)).get
  }

  test("star CC on a 10k-value typo CHAIN converges in log-bounded rounds with exact labels") {
    // the adversarial vocabulary for fuzzyCanonicalize's closure: one
    // maximal typo chain v0~v1~...~v9999 (every pair only adjacent) —
    // the worst case for CC round count (diameter n, where min-label
    // propagation would need ~n rounds). The star algorithm's contract
    // is rounds ~ O(log n) with per-round work bounded by the edge
    // set; a 10x chain extension may add only log-many rounds.
    def chain(n: Int) = (0 until n - 1)
      .map(i => (f"v$i%05d", f"v${i + 1}%05d")).toDF("va", "vb")
    val n = 10000
    val (labels, rounds) = Dedup.connectedComponentsStar(chain(n), "va", "vb")
    val got = labels.as[(String, String)].collect()
    assert(got.length == n && got.forall(_._2 == "v00000"),
      s"every chain member must label to the lexicographic min; got ${got.length} rows")
    val logBound = 2 * math.ceil(math.log(n.toDouble) / math.log(2.0)).toInt
    assert(rounds <= logBound,
      s"chain of $n took $rounds rounds — over the 2*log2(n)=$logBound ceiling")
    // log GROWTH, not just a log ceiling: 10x the chain may add only a
    // handful of rounds (log2(10) ~ 3.3, slack for halving phase)
    val (_, rounds1k) = Dedup.connectedComponentsStar(chain(1000), "va", "vb")
    assert(rounds - rounds1k <= 5,
      s"rounds grew $rounds1k -> $rounds on a 10x chain — not logarithmic")
  }

  test("exact dedup recovers exactly the planted duplicates") {
    val base = corpus(40, seed = 7L).distinct
    val planted = base.take(5) // duplicate the first five
    val docs = (base ++ planted).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val groups = Dedup.exact(docs, "doc_id", "text")
    assert(groups.filter($"n_copies" === 2).count() == 5)
    assert(groups.filter($"n_copies" > 2).count() == 0)
    // keep_id is always the smallest id of its group
    val all = groups.select("keep_id", "n_copies").as[(Long, Long)].collect()
    assert(all.filter(_._2 == 2).forall(_._1 < base.size))
  }

  test("jaccard is within [0,1], identical docs score 1.0, and LSH recall covers jaccard=1 pairs") {
    val base = corpus(30, seed = 11L).distinct
    val dup = base.take(4)
    val docs = (base ++ dup).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")

    val jac = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, threshold = -1.0)
      .select("da", "db", "jaccard").as[(Long, Long, Double)].collect()
    assert(jac.forall { case (a, b, j) => a < b && j >= 0.0 && j <= 1.0 })
    val perfect = jac.filter(_._3 == 1.0).map(p => (p._1, p._2)).toSet
    assert(perfect.size >= 4) // each planted dup pairs with its original

    val lsh = Dedup.minhashLshPairs(docs, "doc_id", "text",
        shingleN = 3, numHashes = 8, rowsPerBand = 2)
      .as[(Long, Long)].collect().toSet
    // identical shingle sets have identical minhash signatures → always bucketed
    assert(perfect.subsetOf(lsh))
  }

  test("connected components equal a reference union-find on random graphs") {
    def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) // min-root union
      }
      parent.keys.map(k => k -> find(k)).toMap
    }
    for (seed <- Seq(3L, 17L, 23L)) {
      val gen = Gen.listOfN(25,
        Gen.zip(Gen.choose(0L, 19L), Gen.choose(0L, 19L)).suchThat(p => p._1 != p._2))
      val edges = gen(Gen.Parameters.default, Seed(seed)).get
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
      val got = Dedup.connectedComponents(edges.toDF("da", "db"))
        .as[(Long, Long)].collect().toMap
      assert(got == unionFind(edges), s"seed $seed, edges $edges")
    }
  }

  test("star CC converges in O(log n) rounds on a 1k path graph and a 1k star graph") {
    // path 0-1-2-...-1023: diameter 1023 — min-label propagation would
    // need ~1023 rounds; large-star/small-star must close in O(log n)
    val path = (0L until 1023L).map(i => (i, i + 1)).toDF("da", "db")
    val (pathLabels, pathRounds) = Dedup.connectedComponentsStar(path, "da", "db")
    assert(pathLabels.as[(Long, Long)].collect().forall(_._2 == 0L))
    assert(pathLabels.select("id").distinct().count() == 1024)
    assert(pathRounds <= 2 * 10 + 5, // ~2·log2(1024) with slack
      s"path graph took $pathRounds rounds — not O(log n)")

    // hub component: everything near-dup of one template
    val star = (0L until 1024L).filter(_ != 500L).map(i => (math.min(i, 500L), math.max(i, 500L)))
      .toDF("da", "db")
    val (starLabels, starRounds) = Dedup.connectedComponentsStar(star, "da", "db")
    assert(starLabels.as[(Long, Long)].collect().forall(_._2 == 0L))
    assert(starRounds <= 3, s"star graph took $starRounds rounds")
  }

  test("self-pairs surface as singleton groups (min-label parity)") {
    // node 7's only evidence is (7,7); node 3 has a self-pair AND a
    // real edge — only 7 needs the singleton path
    val pairs = Seq((7L, 7L), (3L, 3L), (1L, 3L)).toDF("da", "db")
    val star = Dedup.connectedComponents(pairs).as[(Long, Long)].collect().toMap
    val ref = connectedComponentsMinLabel(pairs).as[(Long, Long)].collect().toMap
    assert(star == Map(7L -> 7L, 3L -> 1L, 1L -> 1L))
    assert(star == ref)
  }

  test("star CC labels equal the min-label reference on random graphs") {
    for (seed <- Seq(7L, 41L)) {
      val gen = Gen.listOfN(60,
        Gen.zip(Gen.choose(0L, 39L), Gen.choose(0L, 39L)).suchThat(p => p._1 != p._2))
      val edges = gen(Gen.Parameters.default, Seed(seed)).get
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
      val df = edges.toDF("da", "db")
      val star = Dedup.connectedComponents(df).as[(Long, Long)].collect().toMap
      val ref = connectedComponentsMinLabel(df).as[(Long, Long)].collect().toMap
      assert(star == ref, s"seed $seed")
    }
  }

  test("small-graph dispatch: driver union-find labels equal the star rounds, Long and String ids, self-pairs included") {
    // the SAME pair frame through both dispatch arms (smallMax forced
    // high = union-find, forced 0 = star) must label identically —
    // the fast path's whole contract
    for (seed <- Seq(5L, 19L, 77L)) {
      val gen = Gen.listOfN(40,
        Gen.zip(Gen.choose(0L, 29L), Gen.choose(0L, 29L)))
      val edges = gen(Gen.Parameters.default, Seed(seed)).get
      val df = edges.toDF("da", "db") // self-pairs allowed: singletons
      val fast = Dedup.connectedComponentsDispatch(df, "da", "db", smallMax = 1000000L)
        .as[(Long, Long)].collect().toMap
      val star = Dedup.connectedComponentsDispatch(df, "da", "db", smallMax = 0L)
        .as[(Long, Long)].collect().toMap
      assert(fast == star, s"seed $seed: fast=$fast star=$star")
    }
    // string ids (the fuzzy-ER vocabulary shape): lexicographic min
    val sdf = Seq(("bb", "aa"), ("cc", "bb"), ("zz", "zz"), ("m", "q"))
      .toDF("va", "vb")
    val sFast = Dedup.connectedComponentsDispatch(sdf, "va", "vb", smallMax = 1000L)
      .as[(String, String)].collect().toMap
    val sStar = Dedup.connectedComponentsDispatch(sdf, "va", "vb", smallMax = 0L)
      .as[(String, String)].collect().toMap
    assert(sFast == Map("aa" -> "aa", "bb" -> "aa", "cc" -> "aa",
      "zz" -> "zz", "m" -> "m", "q" -> "m"))
    assert(sFast == sStar)
  }
}
