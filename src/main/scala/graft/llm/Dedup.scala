package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators (SURVEY §2.11 X5): exact, MinHash+LSH banded
  * near-dup, n-gram Jaccard verification, and SimHash — every candidate
  * generation is BUCKETED (hash-groupBy or band-bucket equi-join); there
  * is no all-pairs crossJoin anywhere, so the shuffles stay proportional
  * to data + candidate volume at 100 TB.
  *
  * All hashing is md5-derived so the DuckDB oracle computes bit-identical
  * signatures. The MinHash family is the Kirsch–Mitzenmacher
  * construction: ONE md5 per shingle yields two 32-bit values (hex
  * digits 1-8 and 9-16), and hash function i is `(h1 + i·h2) mod p`
  * (p = largest prime < 2^32) — integer arithmetic both engines perform
  * identically, with 1/12th the digest work of the previous
  * one-md5-per-hash-function scheme (the md5 expression instantiates a
  * MessageDigest per call, which dominated the signature aggregation:
  * measured 2.07 s → 0.9 s for the sf0.1 candidate-pair run).
  */
object Dedup {

  val NumHashes = 12
  val BandSize = 3 // 4 bands of 3 → candidate iff J³ collides in any band

  /** exact dedup groups: one row per distinct text fingerprint with the
    * kept representative (min doc_id) and the duplicate count. A plain
    * hash aggregation — the 100 TB shape (shuffle on fp only).
    */
  def exactGroups(docs: DataFrame): DataFrame =
    TextOps.fingerprint(docs)
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dups"))

  /** distinct word 3-gram shingles per doc, built entirely with array
    * expressions inside the row (transform over an index sequence +
    * array_distinct) — NO shuffle and no per-doc sort; at 100 TB the
    * shingle stage is a pure map. (An earlier window-`lead` formulation
    * cost a full shuffle+sort by doc before any hashing began.)
    */
  def shingles(docs: DataFrame): DataFrame = {
    // tk is projected into a bound column FIRST: expressions inside
    // higher-order lambdas get no common-subexpression elimination, so
    // referencing split() directly there would re-tokenize the text for
    // every element access
    val tk = col("tk")
    val n = size(tk)
    val sh = when(n >= 3,
      array_distinct(transform(sequence(lit(1), n - 2), i =>
        concat_ws(" ", element_at(tk, i), element_at(tk, i + 1),
          element_at(tk, i + 2)))))
      .otherwise(array().cast("array<string>"))
    docs.select(col("doc_id"), split(col("text"), " ").as("tk"))
      .select(col("doc_id"), explode(sh).as("shingle"))
  }

  /** largest prime below 2^32 — the Kirsch–Mitzenmacher modulus.
    * h1 + NumHashes·h2 < 13·2^32 ≪ 2^63: no overflow in long arithmetic.
    */
  val MinhashMod = 4294967291L

  /** MinHash signature: NumHashes integer-min columns per doc — one md5
    * per shingle (projected FIRST so the two 32-bit halves share the
    * digest; no-CSE-in-lambdas discipline as in [[shingles]]), then the
    * Kirsch–Mitzenmacher family `(h1 + i·h2) mod p`, one hash
    * aggregation over the shingle set.
    */
  def minhashSignature(docs: DataFrame): DataFrame = {
    val hu = shingles(docs)
      .select(col("doc_id"), md5(col("shingle")).as("mh"))
      .select(col("doc_id"),
        conv(substring(col("mh"), 1, 8), 16, 10).cast("long").as("u1"),
        conv(substring(col("mh"), 9, 8), 16, 10).cast("long").as("u2"))
    val aggs = (1 to NumHashes).map(i =>
      min((col("u1") + lit(i.toLong) * col("u2")) % MinhashMod).as(s"h$i"))
    hu.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
  }

  /** [[bands]]∘[[minhashSignature]] computed entirely IN-ROW with the
    * native codegen `minhash_bands` expression
    * ([[graft.functions.MinhashBands]]): shingling, one md5 per
    * DISTINCT shingle, the Kirsch–Mitzenmacher mins, and the
    * "|"-joined band strings, all in one fused pass per document — no
    * shuffle, no aggregation, no interpreted lambda. Band keys are
    * bit-identical to the grouped path AND to the former higher-order
    * formulation (both spec-pinned in MinhashBandsSpec). Docs with
    * fewer than 3 tokens produce no row, matching the grouped path's
    * empty groupBy.
    *
    * This is now the shape BOTH surfaces use: streams (a per-doc
    * groupBy would demand watermarked stateful aggregation for a pure
    * map) and batch (the grouped path shuffled the exploded shingle
    * table — tokens × 16 B per doc — just to compute a per-document
    * pure function; in-row, the only shuffle left in an LSH dedup
    * query is the (band, bh) grouping itself, which at 100 TB halves
    * the dedup family's shuffle volume). [[minhashSignature]] stays as
    * the signature-valued public operator (x01's surface).
    */
  def bandsInRow(docs: DataFrame): DataFrame = {
    graft.functions.MinhashBands.register(docs.sparkSession)
    docs.select(col("doc_id"), split(col("text"), " ").as("tk"))
      .select(col("doc_id"),
        posexplode(call_function("minhash_bands", col("tk")))
          .as(Seq("p", "bh")))
      .select(col("doc_id"), (col("p") + 1).as("band"), col("bh"))
  }

  /** LSH band buckets in long form (doc_id, band, bucket_hash). The
    * bucket key is the plain "|"-joined signature triple — an exact join
    * key needs no second digest pass.
    */
  def bands(sig: DataFrame): DataFrame = {
    val nBands = NumHashes / BandSize
    val bandCols = (0 until nBands).map { b =>
      val hs = (1 to BandSize).map(j => col(s"h${b * BandSize + j}"))
      struct(lit(b + 1).as("band"), concat_ws("|", hs: _*).as("bh"))
    }
    sig.select(col("doc_id"), explode(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bh").as("bh"))
  }

  /** default per-(band,bucket) membership cap: a real web corpus has
    * boilerplate-heavy degenerate buckets holding millions of docs; 2k
    * members bounds within-bucket pair work at ~2M pairs per shard while
    * leaving every sane bucket untouched.
    */
  val MaxBucket = 2000

  /** deterministic sub-shard assignment for an oversized bucket:
    * md5(bucketKey # rowKey) mod `nsh` — ONE definition shared by
    * every banded candidate generator (r17 review: the incantation had
    * grown four hand-copies, and any drift in the hash scheme would
    * silently desync pair generation between paths)
    */
  def subShard(bucketKey: Column, rowKey: Column, nsh: Column): Column =
    when(nsh <= 1, lit(0)).otherwise(
      pmod(conv(substring(md5(concat_ws("#", bucketKey, rowKey)), 1, 7),
        16, 10).cast("long"), nsh).cast("int"))

  /** candidate near-dup pairs: docs sharing any band bucket. Pair
    * generation happens INSIDE each bucket — never an all-pairs join —
    * and is BOUNDED (r2 verdict): a bucket larger than `maxBucket` is
    * re-sharded by a secondary md5 of (bucket, doc_id) into
    * ceil(size/maxBucket) sub-buckets, so per-group pair work is capped at
    * ~maxBucket² instead of Σ bucket² with no ceiling. Cross-shard pairs
    * of a degenerate bucket are dropped — the standard recall-for-
    * boundedness trade; near-identical docs land in MANY shared buckets,
    * so a pair capped in one band usually survives another. Use
    * [[oversizedBuckets]] to count/log what was capped.
    *
    * Pair expansion emits one row per (member, partner-array) — O(bucket)
    * memory per row, never the O(bucket²) single-row array that made the
    * r2 shape OOM-prone on a degenerate bucket.
    */
  /** shared LSH bucket materialization: per (band, bucket-hash,
    * cap-shard) the sorted member list, size ≥ 2. Bucket size rides an
    * unordered count window — the same (band, bh) shuffle the grouping
    * needs anyway; window partitions spill, never OOM.
    */
  private def collidedBuckets(docs: DataFrame, maxBucket: Int): DataFrame = {
    val bb = bandsInRow(docs)
    val wsz = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band"), col("bh"))
    val sharded = bb
      .withColumn("bsz", count(lit(1)).over(wsz))
      .filter(col("bsz") > 1)
      .withColumn("nsh",
        ceil(col("bsz").cast("double") / maxBucket).cast("int"))
      .withColumn("sub", subShard(col("bh"), col("doc_id"), col("nsh")))
    sharded.groupBy(col("band"), col("bh"), col("sub"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
      .filter(size(col("ds")) > 1)
  }

  def candidatePairs(docs: DataFrame, maxBucket: Int = MaxBucket): DataFrame =
    // member i pairs with every later member: slice() keeps per-row state
    // at O(bucket ≤ maxBucket)
    collidedBuckets(docs, maxBucket)
      .select(posexplode(col("ds")).as(Seq("i", "doc_a")), col("ds"))
      .select(col("doc_a"),
        explode(slice(col("ds"), col("i") + lit(2), size(col("ds"))))
          .as("doc_b"))
      .distinct()

  /** CONNECTIVITY-ONLY candidate edges: each bucket member links to the
    * bucket's MIN member — d−1 edges per bucket instead of
    * [[candidatePairs]]' C(d,2) clique, with IDENTICAL connected
    * components (every member reaches every other through the min, so
    * the union over buckets/bands has the same component structure).
    *
    * This is the r13 ×300 lesson: a duplicate-heavy corpus holds
    * dup-groups of size d in shared buckets, and the clique emits
    * ~d²/2 pairs per group — 300-copy groups took a 1.35M-doc corpus
    * to ~600M pre-distinct pairs and OOM'd the pair shuffle. The star
    * emits d−1. At 100 TB this is the difference between candidate
    * volume scaling with DUPLICATION² and with corpus size. Consumers
    * that need actual pairs (Jaccard verify, the x02 pair listing,
    * recall/leakage audits) keep the clique; cluster resolution
    * ([[dupClusters]]) needs only connectivity and uses this.
    */
  def candidateEdges(docs: DataFrame, maxBucket: Int = MaxBucket): DataFrame =
    collidedBuckets(docs, maxBucket)
      .select(element_at(col("ds"), 1).as("doc_a"),
        explode(slice(col("ds"), lit(2), size(col("ds")))).as("doc_b"))
      .distinct()

  /** capped-bucket diagnostic: (band, bh, bsz) for every bucket whose pair
    * generation was re-sharded by [[candidatePairs]] — count/log these so
    * a recall trade at scale is visible, not silent.
    */
  def oversizedBuckets(docs: DataFrame,
      maxBucket: Int = MaxBucket): DataFrame =
    bandsInRow(docs)
      .groupBy(col("band"), col("bh")).agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") > maxBucket)

  /** duplicate-cluster resolution: connected components over the
    * candidate-pair graph, labeling every document with the MIN doc_id of
    * its component (the canonical representative a dedup pipeline keeps)
    * plus the component size. See [[clustersFromPairs]] for the loop.
    */
  def dupClusters(docs: DataFrame, maxIter: Int = 25): DataFrame =
    clustersFromPairs(docs.select(col("doc_id")), candidateEdges(docs),
      maxIter)

  /** [[dupClusters]] without the cluster-size tail — for consumers
    * (representative flags, cluster-keyed splits, takedown semi-joins)
    * that only read (doc_id, cluster_id) and would otherwise pay the
    * size agg+join just to prune it
    */
  def dupClusterLabels(docs: DataFrame, maxIter: Int = 25): DataFrame =
    clusterLabels(docs.select(col("doc_id")), candidateEdges(docs),
      maxIter)

  /** connected components over an explicit (doc_a, doc_b) pair set:
    * alternating LARGE-STAR / SMALL-STAR rounds (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14 — the
    * standard large-graph CC algorithm). Each half-round rewrites the
    * edge set through per-node neighborhood minima: large-star hooks
    * every strictly-larger neighbor of a node to the minimum of its
    * closed neighborhood (halving long monotone chains), small-star
    * hooks every smaller-or-equal neighbor (collapsing the
    * randomly-numbered chains large-star can't shorten). The paper's
    * potential argument gives O(log² n) rounds on ANY numbering and a
    * sound termination test: one full alternation that leaves the edge
    * set unchanged means BOTH operators are at their fixed point, and
    * the joint fixed points are exactly star forests rooted at each
    * component's MINIMUM id — the labels read off in one aggregation.
    *
    * Why not min-label propagation with a label(label) shortcut (the
    * r1–r10 loop): the doubling argument behind that scheme holds only
    * when ids grow monotonically along a chain (the unit-test path
    * graph). On the randomly-numbered chains a 5-NN community graph
    * produces, label(label) usually points sideways, and the loop
    * crawled — measured at sf0.1 on x71's graph (1 351 vertices, 1 139
    * edges): still 9 label changes at round 25, i.e. maxIter exhausted
    * with an UNCONVERGED labeling. And why not plain min-contraction:
    * it collapses random numberings in O(log n) but shrinks a MONOTONE
    * chain by one node per round — each scheme's blind spot is the
    * other's strength, which is exactly the two-operator alternation.
    *
    * Each half-round is one aggregation (the neighborhood min) + one
    * equi-join over id-only rows. The carried edge set is SPILLED TO
    * PARQUET EVERY
    * round, not persisted and not `Dataset.checkpoint`ed:
    *
    *   - persist does not truncate the LOGICAL plan: a round references
    *     its input state THREE times (neighbor join, shortcut self-join,
    *     base), so with persist alone the plan tree grows ~3× per round
    *     — 3^k copies of the seed lineage by round k — and driver-side
    *     analysis over that tree came to dominate the whole query
    *     (measured at sf0.1: rounds of 0.55 → 1.1 → 3.2 s and an 8 s
    *     final assembly on a 313-pair graph).
    *   - `Dataset.checkpoint` truncates the plan to a `LogicalRDD`, but
    *     (Spark ≥3.4, `LogicalRDD.fromDataset`) that leaf PRESERVES the
    *     ORIGIN PLAN'S STATISTICS. A CC round's size estimate is a
    *     product over its joins, so the carried `sizeInBytes` roughly
    *     SQUARES every round — measured: 8 → 17 → 37 → 75 decimal
    *     digits over four rounds — and by round ~15 the driver is doing
    *     Toom-Cook multiplications on million-digit BigIntegers inside
    *     `SizeInBytesOnlyStatsPlanVisitor.visitJoin` (the r10 x71
    *     failure: a deep 5-NN community graph runs many more rounds
    *     than a shallow dup-clique graph, so x16 never surfaced it).
    *     Reliable checkpoint also COMPUTES EACH ROUND TWICE (once for
    *     the convergence count, once more to write the checkpoint
    *     files).
    *
    * A parquet round-trip fixes all three at once: the re-read plan is
    * a plain file-scan leaf whose stats are the REAL on-disk size (flat
    * across rounds, KB here), lineage is fully truncated at both the
    * plan and RDD level, and each round executes exactly once (the
    * write is the action; the convergence count re-scans the tiny
    * file). [[DedupSpec]] pins both the plan node count and the stats
    * digit count flat across rounds so neither failure mode can return
    * silently. The edge set spills once for the same reason — it rides
    * into every round's plan. Spill I/O is one write+scan of the
    * id-only state per round (KB here; at deployment the spill dir is
    * durable storage, which also bounds recompute depth on executor
    * loss to one round).
    */
  /** `planProbe(round, nodes, statsDigits)` receives, each round, the
    * analyzed-plan node count of the carried label state AND the decimal
    * digit count of its `sizeInBytes` estimate — DedupSpec asserts both
    * stay flat (the BpeSpec `planProbe` discipline applied to the loop
    * that invented it; the digit pin is what would have caught the r10
    * x71 originStats explosion).
    *
    * `localEdgeCap` (r13): when the DEDUPLICATED edge set fits under
    * the cap, the components are solved by one union-find pass on the
    * driver instead of the iterated star rounds — the free-guard
    * discipline (`limit(cap+1)`: under the cap the collected set is
    * provably complete AND already in hand) applied to the graph
    * layer. The near-dup subgraph's edge count is orders below the
    * corpus (it exists because dedup PRUNES), so at local/toy scale
    * this replaces 5–10 spill rounds + their job floors with one
    * bounded collect, while a deployment-scale candidate set (> cap)
    * takes the alternating-star path unchanged. 0 disables (the
    * loop-pinning specs force the distributed path). The cap bounds
    * driver memory by construction: 1M edges ≈ tens of MB transient.
    *
    * The loop throws an `IllegalStateException` when `maxIter` rounds
    * end before the edge set is a star forest: labels read off an
    * unconverged edge set are wrong.
    */
  def clustersFromPairs(ids: DataFrame, pairs: DataFrame,
      maxIter: Int = 25,
      planProbe: (Int, Int, Int) => Unit = (_, _, _) => (),
      localEdgeCap: Int = 1 << 20): DataFrame = {
    // sizes wrap the labels-only core (r19): `labels` is referenced
    // twice (the size agg + the join back), exactly the double
    // reference the former in-`finish` shape paid — persisting it was
    // measured and LOST in r18 (the subtree is a cheap union), so the
    // shape is kept; consumers that prune cluster_size away
    // (communityQuality/graphRefreshCycle/assignToCommunities feeds)
    // now call [[clusterLabels]] directly and skip this agg+join
    // entirely — Catalyst cannot remove the inner join itself even
    // when the size column is pruned.
    val labels = clusterLabels(ids, pairs, maxIter, planProbe,
      localEdgeCap)
    val sizes = labels.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
  }

  /** labels-only connected components — [[clustersFromPairs]] without
    * the cluster-size agg+join tail, for consumers that only need
    * (doc_id, cluster_id)
    */
  def clusterLabels(ids: DataFrame, pairs: DataFrame,
      maxIter: Int = 25,
      planProbe: (Int, Int, Int) => Unit = (_, _, _) => (),
      localEdgeCap: Int = 1 << 20): DataFrame = {
    val spark = ids.sparkSession
    val root = graft.stream.StreamOps.checkpointDir("dup-clusters")
    // parquet spill: truncates the candidate-generation lineage (and its
    // carried stats) out of every round's plan — see the scaladoc
    def spill(df: DataFrame, name: String): DataFrame = {
      val p = s"$root/$name"
      df.write.mode("overwrite").parquet(p)
      spark.read.parquet(p)
    }
    // the loop runs over the subgraph INDUCED on `ids` only — docs in no
    // pair are singleton clusters by definition and are unioned back at
    // the end, and a pair member absent from `ids` must not surface in
    // (or bridge through, or become the representative of) the output,
    // so edges touching such a vertex are dropped up front. At 100 TB
    // this is the difference between iterating over the whole corpus
    // and iterating over the near-dup subgraph (a tiny fraction of it).
    val inIds = pairs
      .join(ids.select(col("doc_id").as("doc_a")), Seq("doc_a"), "left_semi")
      .join(ids.select(col("doc_id").as("doc_b")), Seq("doc_b"), "left_semi")
    // canonical undirected form (lo < hi) — both star operators emit
    // (min-of-neighborhood, node) pairs, which are already canonical
    val edgesRaw = inIds
      .select(least(col("doc_a"), col("doc_b")).as("lo"),
        greatest(col("doc_a"), col("doc_b")).as("hi"))
      .filter(col("lo") =!= col("hi")).distinct()
    // r15: the bounded local finish no longer pays a parquet round trip.
    // The edge lineage persists and the limit(cap+1) probe collects
    // straight off it — under the cap (every toy/sf-scale consumer:
    // x16/x30/x67/x71-x73/x86/x91) that is the ONLY materialization.
    // Only the over-cap loop path spills to parquet, FROM the cache, so
    // pair generation still executes exactly once; the parquet file
    // keeps every loop iteration's plan O(1) (the r12 plan-audit
    // lesson) and its real file stats drive the materialization-regime
    // choice below.
    val edgesCached = edgesRaw
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // shared tail: singleton docs (in no surviving edge) label to
    // themselves (sizes, when wanted, ride [[clustersFromPairs]]'s wrap)
    def finish(labels: DataFrame, vertIds: DataFrame): DataFrame = {
      val singletons = ids.join(vertIds, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("doc_id").as("label"))
      labels.union(singletons)
        .select(col("doc_id"), col("label").as("cluster_id"))
    }
    val idsAreLong = edgesCached.schema.fields
      .forall(_.dataType == org.apache.spark.sql.types.LongType)
    if (localEdgeCap > 0 && idsAreLong) {
      // bounded local finish: limit(cap+1) makes the guard free — under
      // the cap the set is complete and already collected
      val head = edgesCached.limit(localEdgeCap + 1).collect()
      if (head.length <= localEdgeCap) {
        val es = head.map(r => (r.getLong(0), r.getLong(1)))
        val idx = scala.collection.mutable.HashMap.empty[Long, Int]
        es.foreach { case (a, b) =>
          idx.getOrElseUpdate(a, idx.size)
          idx.getOrElseUpdate(b, idx.size); ()
        }
        val back = new Array[Long](idx.size)
        idx.foreach { case (id, i) => back(i) = id }
        val parent = Array.tabulate(idx.size)(identity)
        def find(x: Int): Int = {
          var r = x
          while (parent(r) != r) r = parent(r)
          var c = x
          while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
          r
        }
        es.foreach { case (a, b) =>
          val (ra, rb) = (find(idx(a)), find(idx(b)))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        // component label = min doc id of the component (the same
        // canonical choice the star forest's min-root encodes)
        val minOf = scala.collection.mutable.HashMap.empty[Int, Long]
        var i = 0
        while (i < back.length) {
          val r = find(i)
          if (back(i) < minOf.getOrElse(r, Long.MaxValue)) minOf(r) = back(i)
          i += 1
        }
        // materialize via an RDD, NOT a local Seq's toDF (r13 verdict
        // item 6): a LocalRelation at the 1M-edge cap embeds ~2M rows in
        // EVERY plan that references it (copied into each downstream
        // join's analyzed plan); parallelize ships the rows once as task
        // binaries and the plan stays O(1). The transient driver cost is
        // the edge array + this row array — tens of MB at cap.
        import spark.implicits._
        val labelsLocal = spark.sparkContext
          .parallelize(back.indices.map(i => (back(i), minOf(find(i)))),
            math.max(1, back.length >> 16))
          .toDF("doc_id", "label")
        edgesCached.unpersist()
        return finish(labelsLocal, labelsLocal.select(col("doc_id")))
      }
    }
    // over the cap (or non-long ids): the distributed loop — spill the
    // edge set to parquet off the cache, then drop the cache
    val edges = spill(edgesCached, "edges")
    edgesCached.unpersist()
    def verts = edges.select(col("lo").as("doc_id"))
      .union(edges.select(col("hi").as("doc_id"))).distinct()
    // directed view (u, v): both orientations, so one groupBy(u) sees
    // every closed neighborhood
    def dir(e: DataFrame): DataFrame =
      e.select(col("lo").as("u"), col("hi").as("v"))
        .union(e.select(col("hi").as("u"), col("lo").as("v")))
    // large-star: per node u with m = min(u ∪ N(u)), hook every
    // strictly larger neighbor v to m
    def largeStar(e: DataFrame): DataFrame = {
      val d = dir(e)
      val mTab = d.groupBy(col("u")).agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      d.filter(col("v") > col("u")).join(mTab, Seq("u"))
        .filter(col("m") =!= col("v"))
        .select(col("m").as("lo"), col("v").as("hi")).distinct()
    }
    // small-star: per node u with m = min of its smaller neighbors,
    // hook those neighbors AND u itself to m
    def smallStar(e: DataFrame): DataFrame = {
      val d = dir(e).filter(col("v") < col("u"))
      val mTab = d.groupBy(col("u")).agg(min(col("v")).as("m"))
      d.join(mTab, Seq("u"))
        .select(col("m"), col("v"))
        .union(mTab.select(col("m"), col("u").as("v")))
        .filter(col("m") =!= col("v"))
        .select(col("m").as("lo"), col("v").as("hi")).distinct()
    }
    // materialization regime, decided from the spilled edge file's REAL
    // size (driver-side stats — free): in the small regime (toy/local,
    // < 64 MB of edges) both half-rounds compose into ONE spill per
    // alternation — the repeated sub-references inside the composed
    // plan re-scan a KB parquet file, and the per-job scheduling floor
    // dominates locally; in the large regime (deployment candidate
    // sets) each half-round materializes so the big first-round edge
    // shuffles run once, not once per sub-reference.
    val smallRegime =
      edges.queryExecution.optimizedPlan.stats.sizeInBytes < (64L << 20)
    // sound termination, ONE cheap job per alternation: a canonical
    // (lo < hi) edge set is a MIN-ROOTED STAR FOREST iff no node is
    // both a root (lo) and a leaf (hi) and no leaf repeats — and the
    // min-rooted star forests are exactly the joint fixed points of the
    // two operators (paper §3), so testing the OUTPUT directly stops
    // one alternation earlier than comparing consecutive edge sets.
    def violators(t: DataFrame): DataFrame =
      t.select(col("hi").as("n"), lit(1L).as("h"))
        .union(t.select(col("lo").as("n"), lit(0L).as("h")))
        .groupBy(col("n"))
        .agg(sum(col("h")).as("nHi"), count(lit(1)).as("tot"))
        .filter((col("nHi") > 0 && col("nHi") < col("tot")) ||
          col("nHi") > 1)
    def starViolations(t: DataFrame): Long = violators(t).limit(1).count()
    var e = edges
    var iter = 0
    var notStar = starViolations(e)
    while (notStar > 0 && iter < maxIter) {
      // the spill writes are the actions that compute the half-rounds.
      // Ping-pong paths: round i reads *_{(i+1)%2} while writing
      // *_{i%2}; the loop exit leaves the final edge file live for the
      // lazy caller.
      val e2 =
        if (smallRegime) spill(smallStar(largeStar(e)), s"ss_${iter % 2}")
        else spill(smallStar(spill(largeStar(e), s"ls_${iter % 2}")),
          s"ss_${iter % 2}")
      planProbe(iter + 1,
        e2.queryExecution.analyzed.collect { case p => p }.length,
        e2.queryExecution.optimizedPlan.stats.sizeInBytes.toString.length)
      notStar = starViolations(e2)
      e = e2
      iter += 1
    }
    // labels read off a non-star edge set are wrong (a chain's tail
    // keeps a non-minimum label), so running out of rounds is an error,
    // never a silent result
    if (notStar > 0)
      throw new IllegalStateException(
        s"connected components did not converge: $iter rounds run " +
          s"(maxIter = $maxIter), ${violators(e).count()} nodes still " +
          "violate the star-forest condition")
    // read labels off the star forest: l(v) = min(v ∪ N(v)); vertices
    // whose component collapsed away from the edge set keep themselves
    val nbrMin = dir(e).groupBy(col("u")).agg(min(col("v")).as("mn"))
    val labels = verts
      .join(nbrMin.withColumnRenamed("u", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        least(col("doc_id"), coalesce(col("mn"), col("doc_id")))
          .as("label"))
    finish(labels, verts)
  }

  /** the composed dedup GATE a pipeline actually runs before write-out:
    * resolve duplicate clusters ([[dupClusters]]) and KEEP one
    * representative document per cluster — the min doc_id, the same
    * canonical choice the cluster label already encodes — dropping the
    * rest. Returns the kept docs (metadata columns, not the text — the
    * caller joins text back for the write) with the cluster size and how
    * many near-dups each representative absorbed.
    *
    * Scale shape: everything up to the final join is the [[dupClusters]]
    * machinery (bucketed candidates, O(log D) label rounds over the
    * near-dup subgraph only); the representative filter is a per-row
    * predicate on its output and the metadata join shuffles on doc_id.
    * At 100 TB the text column never moves through the loop.
    */
  def keepRepresentatives(docs: DataFrame): DataFrame =
    dupClusters(docs)
      .filter(col("doc_id") === col("cluster_id"))
      .join(docs.select(col("doc_id"), col("source"), col("lang"),
        col("n_chars")), Seq("doc_id"))
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"),
        col("cluster_size"),
        (col("cluster_size") - 1).as("n_dropped"))

  /** exact token-set Jaccard for the candidate pairs (the verify step of
    * MinHash dedup): shared-token counts via token-keyed joins — again
    * proportional to candidates, not n².
    */
  def jaccardOnCandidates(docs: DataFrame): DataFrame = {
    // the intersection is computed IN-ROW with the built-in (and
    // codegen'd) array_intersect over each side's distinct token array —
    // composing existing ops, no custom expression needed. The former
    // shape exploded distinct tokens and paid FIVE candidate-keyed joins
    // plus two aggregations (token-keyed intersection count + per-doc
    // sizes + the re-assembly); this is two doc_id equi-joins shipping
    // the token arrays and one projection, still proportional to
    // candidates, never n². Values bit-identical: inter and the sizes
    // are the same distinct counts, and the single int/int Divide casts
    // to double exactly like the old long/long one (spec x03 oracle
    // unchanged and hash-green).
    val tk = array_distinct(split(col("text"), " "))
    val ta = docs.select(col("doc_id").as("doc_a"), tk.as("ta"))
    val tb = docs.select(col("doc_id").as("doc_b"), tk.as("tb"))
    val inter = size(array_intersect(col("ta"), col("tb")))
    candidatePairs(docs)
      .join(ta, Seq("doc_a")).join(tb, Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (inter / (size(col("ta")) + size(col("tb")) - inter))
          .as("jaccard"))
  }

  /** 16-bit SimHash over the distinct token set: bit j is the sign of the
    * ±1 vote sum from md5 hex digit j of each token. One agg per doc;
    * identical fingerprints = near-dup bucket key.
    */
  def simhash(docs: DataFrame): DataFrame = {
    val hexHi = Seq("8", "9", "a", "b", "c", "d", "e", "f")
    val toks = docs.select(col("doc_id"),
        explode(array_distinct(split(col("text"), " "))).as("tok"))
      .withColumn("h", md5(col("tok")))
    val bitSums = (1 to 16).map(j =>
      sum(when(substring(col("h"), j, 1).isin(hexHi: _*), 1L).otherwise(-1L))
        .as(s"b$j"))
    val sums = toks.groupBy(col("doc_id")).agg(bitSums.head, bitSums.tail: _*)
    val fp = concat((1 to 16).map(j =>
      when(col(s"b$j") >= 0, "1").otherwise("0")): _*)
    sums.select(col("doc_id"), fp.as("simhash16"))
  }

  /** fuzzy eval-set decontamination — the MinHash complement of
    * [[TextOps.decontaminate]]'s exact n-gram check (the GPT-3
    * appendix-C discipline): a training doc is suspect when it
    * LSH-collides with ANY benchmark doc, catching paraphrase-level
    * near-matches that exact n-gram overlap misses. The eval slice is
    * the deterministic `doc_id % evalMod == 0` stand-in (denser than
    * x27's so band collisions actually surface on the toy corpus); both
    * sides share ONE signature/band pass over the corpus.
    *
    * Scale: the cross join is keyed on (band, bucket) — never all-pairs
    * — and a real benchmark's band side is tiny, so AQE broadcasts it;
    * the corpus-sized shuffles are the signature agg and the final
    * doc_id-keyed count, both linear. Degenerate buckets would need the
    * [[candidatePairs]] cap; benchmark-sized eval sets do not.
    *
    * Cache contract: the shared band table stays persisted until the
    * caller runs `spark.catalog.clearCache()` — same convention as
    * [[graft.llm.Similarity.quantizedTopK]]'s one-shot form (the bench
    * clears per run).
    */
  def fuzzyDecontam(docs: DataFrame, evalMod: Long = 10): DataFrame = {
    // one signature pass feeds both sides of the band join — branch
    // materialized once (no subplan reuse across DataFrame branches)
    val bb = bandsInRow(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ev = bb.filter(col("doc_id") % evalMod === 0)
      .select(col("band"), col("bh"), col("doc_id").as("eval_id"))
    val hits = bb.filter(col("doc_id") % evalMod =!= 0)
      .join(ev, Seq("band", "bh"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("eval_id")).as("n_eval_hits"),
        min(col("eval_id")).as("first_eval"))
    docs.filter(col("doc_id") % evalMod =!= 0).select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_eval_hits"), lit(0L)).as("n_eval_hits"),
        col("first_eval"),
        (coalesce(col("n_eval_hits"), lit(0L)) > 0).as("contaminated"))
  }

  /** incremental (batch-vs-corpus) near-dup gate — the production ingest
    * shape: a daily increment is deduped against the EXISTING corpus
    * without re-signing the corpus per ingest. The corpus collapses to
    * its distinct LSH bucket-KEY set — membership is an exists-check, so
    * no doc-level corpus join is needed and the key set (not signatures,
    * not docs) is what a deployment stores between ingests, appending
    * the kept batch docs' keys after each gate. Per batch doc:
    *   - `dup_vs_corpus`: shares ≥1 band bucket with any corpus doc;
    *   - `dup_in_batch`: shares ≥1 band bucket with a LOWER-id batch doc
    *     (the [[fuzzyDecontam]]/SemDeDup one-pass lower-id convention —
    *     deliberately non-transitive: the ingest path gates in one pass,
    *     no CC loop; run [[dupClusters]] offline for exact clusters);
    *   - `keep` = neither. Docs under 3 tokens emit no bands and are
    *     never duplicates (matching [[candidatePairs]]).
    *
    * Scale: the corpus pass is one signature agg + a distinct on
    * (band, bh) — both linear, and amortized to ZERO on the stored-index
    * path. The batch side is increment-sized: its bands persist (two
    * branches read them), the vs-corpus check is a (band, bh)-keyed
    * left-semi join (AQE broadcasts the increment side when small — the
    * [[fuzzyDecontam]] discipline, no force-broadcast), and the in-batch
    * check is a per-bucket min-id window on the bands' own shuffle — no
    * self-join, so a degenerate bucket costs O(bucket), not O(bucket²).
    * Caller runs `spark.catalog.clearCache()` when done (the
    * [[fuzzyDecontam]] convention).
    */
  def incrementalDedup(corpus: DataFrame, batch: DataFrame): DataFrame =
    incrementalDedupWithIndex(bandKeyIndex(corpus), batch)

  /** the storable ingest index: the corpus's distinct (band, bh) bucket
    * keys. Write it once (plain parquet), reload for every ingest, and
    * append the kept batch docs' keys after each [[incrementalDedupWithIndex]]
    * gate — the corpus text is never re-signed.
    */
  def bandKeyIndex(corpus: DataFrame): DataFrame =
    bandsInRow(corpus)
      .select(col("band"), col("bh")).distinct()

  /** [[incrementalDedup]] against a pre-built [[bandKeyIndex]] — the
    * form a deployment actually runs per ingest (index loaded from
    * storage, corpus-signature cost amortized to zero).
    */
  def incrementalDedupWithIndex(corpusKeys: DataFrame,
      batch: DataFrame): DataFrame = {
    val nb = bandsInRow(batch)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val vsCorpus = nb.join(corpusKeys, Seq("band", "bh"), "left_semi")
      .select(col("doc_id")).distinct()
    val wb = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band"), col("bh"))
    val inBatch = nb.withColumn("mn", min(col("doc_id")).over(wb))
      .filter(col("mn") < col("doc_id"))
      .select(col("doc_id")).distinct()
    batch.select(col("doc_id"))
      .join(vsCorpus.withColumn("dvc", lit(true)), Seq("doc_id"), "left")
      .join(inBatch.withColumn("dib", lit(true)), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("dvc"), lit(false)).as("dup_vs_corpus"),
        coalesce(col("dib"), lit(false)).as("dup_in_batch"),
        (!coalesce(col("dvc"), lit(false)) &&
          !coalesce(col("dib"), lit(false))).as("keep"))
  }

  /** LSH recall audit — the band-geometry tuning instrument: on a
    * deterministic doc sample, compare every pair's EXACT shingle
    * Jaccard against whether the banded MinHash pipeline surfaced it as
    * a candidate, bucketed by J decile. The empirical hit rate per
    * decile is the measured S-curve to hold against the theoretical
    * `1 − (1 − J^r)^b` when choosing bands×rows for a recall target —
    * the number you need BEFORE trusting a 100 TB dedup run, measured
    * on the corpus's own text, not an iid model.
    *
    * Deliberate scale exception: the audit enumerates ALL pairs within
    * the sample — the one place this library does quadratic work — so
    * the sample must stay audit-sized (`sampleMod` keeps 1/sampleMod of
    * docs; 250 docs → ~31k pairs). LSH collision is a pairwise property
    * (signatures are per-doc), so banding the sample alone reproduces
    * exactly the full-corpus collision outcome for sample pairs; pairs
    * where either doc has no shingles (<3 tokens) have no defined J and
    * are excluded. The shingle table persists — three branches (sizes +
    * both sides of the intersection self-join) read it; caller runs
    * `spark.catalog.clearCache()` (the [[fuzzyDecontam]] convention).
    */
  def lshRecallAudit(docs: DataFrame, sampleMod: Long = 20): DataFrame = {
    val sample = docs.filter(col("doc_id") % sampleMod === 0)
    val dsh = shingles(sample)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sz = dsh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    // audit-sized all-pairs base (see scaladoc) — broadcastable by size
    val pairsBase = sz.select(col("doc_id").as("doc_a"), col("sz").as("sz_a"))
      .join(sz.select(col("doc_id").as("doc_b"), col("sz").as("sz_b")),
        col("doc_a") < col("doc_b"))
    val inter = dsh.as("x")
      .join(dsh.as("y"), col("x.shingle") === col("y.shingle") &&
        col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("i"))
    val cand = candidatePairs(sample)
      .withColumn("is_cand", lit(1L))
    val i0 = coalesce(col("i"), lit(0L))
    val jt = pairsBase
      .join(inter, Seq("doc_a", "doc_b"), "left")
      .join(cand, Seq("doc_a", "doc_b"), "left")
      .select(
        least(floor(i0.cast("double") /
          (col("sz_a") + col("sz_b") - i0).cast("double") * 10)
          .cast("int"), lit(9)).as("j_bucket"),
        coalesce(col("is_cand"), lit(0L)).as("is_cand"))
    jt.groupBy(col("j_bucket"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("is_cand")).as("n_cand"))
      .select(col("j_bucket"), col("n_pairs"), col("n_cand"),
        (col("n_cand").cast("double") / col("n_pairs").cast("double"))
          .as("hit_rate"))
  }

  /** split-leakage audit — near-dup pairs that STRADDLE dataset splits:
    * after [[graft.llm.Sampling.hashSplit]] assigns train/val/test, a
    * near-duplicate pair with one foot in train and one in an eval
    * split silently inflates eval scores (the within-corpus twin of
    * [[fuzzyDecontam]]'s external-benchmark check). Emits each
    * straddling candidate pair with both splits — run it green (or
    * explain every row) before trusting a held-out number.
    *
    * Scale: candidate generation is the bucketed [[candidatePairs]]
    * pass; split assignment is a pure per-row hash — two id-keyed
    * joins of split labels onto the pair set, linear throughout.
    */
  def splitLeakage(docs: DataFrame): DataFrame = {
    val sp = docs.select(col("doc_id"),
      Sampling.hashSplit(col("doc_id"), "split").as("split"))
    candidatePairs(docs)
      .join(sp.select(col("doc_id").as("doc_a"), col("split").as("split_a")),
        Seq("doc_a"))
      .join(sp.select(col("doc_id").as("doc_b"), col("split").as("split_b")),
        Seq("doc_b"))
      .filter(col("split_a") =!= col("split_b"))
      .select(col("doc_a"), col("doc_b"), col("split_a"), col("split_b"))
  }

  /** corpus snapshot diff — classify every doc_id across two corpus
    * versions (crawl N vs crawl N+1) as added / removed / changed /
    * unchanged by exact content hash. The incremental-refresh staple:
    * the changed+added set is what re-enters the ingest gates
    * ([[incrementalDedup]], [[graft.llm.Similarity.embIngestGate]]) and
    * the removed set is what re-training must forget — without the
    * diff, every refresh re-processes 100 TB instead of the delta.
    *
    * The hash is md5 of the RAW text (not the whitespace-normalized
    * [[fingerprint]]): a version diff must see every byte change; near-dup
    * tolerance is the gates' job downstream. Scale: one projection per
    * side + a doc_id-keyed full outer join — at deployment both sides'
    * (doc_id, fp) come from the stored manifest (the x38 artifact), so
    * the diff never rereads text at all.
    */
  def snapshotDiff(oldDocs: DataFrame, newDocs: DataFrame): DataFrame = {
    val o = oldDocs.select(col("doc_id"), md5(col("text")).as("old_fp"))
    val n = newDocs.select(col("doc_id"), md5(col("text")).as("new_fp"))
    o.join(n, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("old_fp"), col("new_fp"),
        when(col("old_fp").isNull, "added")
          .when(col("new_fp").isNull, "removed")
          .when(col("old_fp") === col("new_fp"), "unchanged")
          .otherwise("changed").as("status"))
  }

  /** the Bloom position family shared by [[bloomPreGate]] and the st14
    * streaming gate: Kirsch–Mitzenmacher positions `(h1 + j·h2) mod
    * mBits` (j = 1..k) where h1/h2 are the first two u32 words of the
    * content fingerprint ITSELF — the same one-digest construction the
    * MinHash family above uses, so the gate pays ZERO digests beyond
    * the md5 it already computed (the r11 bench showed the three
    * seeded position md5s were ~75% of per-row cost — the x64 `weak`).
    * Deterministic hex arithmetic, bit-reproducible in any engine.
    */
  def bloomPositions(fp: Column, mBits: Int, kHashes: Int): Seq[Column] = {
    val h1 = conv(substring(fp, 1, 8), 16, 10).cast("long")
    val h2 = conv(substring(fp, 9, 8), 16, 10).cast("long")
    (1 to kHashes).map(j => (h1 + lit(j.toLong) * h2) % mBits)
  }

  /** the corpus side of the Bloom gate as the STORED artifact: the
    * bitmap words (mBits/64 longs) with every corpus fingerprint's
    * positions set — the codebook-collect class (≤ mBits distinct
    * positions; 8 KB at the demo sizing, MBs at realistic per-shard
    * sizing).
    */
  def bloomBitmap(corpus: DataFrame, mBits: Int = 65536,
      kHashes: Int = 3): Array[Long] =
    bloomBitmapOfFps(
      corpus.select(md5(col("text")).as("fp")).distinct(), mBits, kHashes)

  /** [[bloomBitmap]] off an already-distinct fingerprint frame —
    * position sets are invariant under fp dedup, so the bitmap can
    * build from the SAME single md5 pass the exact-check side needs
    * (r12: the gate's ×300 cost was two full-corpus md5(text) scans;
    * sharing one persisted distinct-fp frame halves it)
    */
  def bloomBitmapOfFps(fps: DataFrame, mBits: Int = 65536,
      kHashes: Int = 3): Array[Long] = {
    val setBits = fps
      .select(explode(array_distinct(
        array(bloomPositions(col("fp"), mBits, kHashes): _*))).as("pos"))
      .distinct().collect().map(_.getLong(0))
    val words = new Array[Long]((mBits + 63) / 64)
    setBits.foreach(p => words((p >>> 6).toInt) |= 1L << (p & 63))
    words
  }

  /** Bloom-filter ingest PRE-gate — the shuffle-saving trick in front
    * of every exact-dup check at 100 TB: the corpus collapses to a
    * Bloom BITMAP over its content fingerprints ([[bloomBitmap]] — the
    * artifact a deployment stores), and an incoming batch doc is
    * `maybe_dup` iff ALL its [[bloomPositions]] are set — evaluated by
    * the native [[graft.functions.BloomProbe]] expression as ONE
    * compiled call per row against the literal bitmap: no explode, no
    * join, no aggregate on the batch side, just scan throughput. Only
    * maybe-dups need the exact fp semi-join — the Bloom contract (no
    * false negatives, tunable false positives) cuts the downstream
    * shuffle to the maybe set, which at a typical <1% dup rate is ~the
    * FP rate of the filter.
    *
    * Unlike library Bloom filters (engine-specific bit layouts), the
    * positions are Kirsch–Mitzenmacher md5-hex arithmetic —
    * deterministic and reproducible in any engine, so the gate is
    * oracle-checkable bit-for-bit. The demo emits the exact check
    * alongside (`is_dup`, `false_positive`) to PRICE the FP rate in
    * the same query; a production pass runs the exact join only on
    * `maybe_dup` rows. Sizing: FP ≈ (fill)^kHashes with
    * fill ≈ 1 − exp(−k·n/m); size mBits ≈ 10–15 bits/doc for <1% FP
    * (the demo's 65536 bits ≈ 13 bits/doc at the largest test corpus —
    * a realistic ~0.6% FP rate that still surfaces measurable FPs
    * there while staying clean at the smaller SFs).
    *
    * Scale: the literal-bitmap projection carries mBits/8 bytes in the
    * plan — right up to the tens-of-MB bitmaps a per-shard deployment
    * filter uses. Past that (a single global filter over 10^10 docs
    * wants mBits ≈ 10^11 ≈ 12 GB) no single-node bitmap fits ANY
    * engine's broadcast, and the gate falls back to the
    * position-partitioned join form ([[bloomPreGateJoin]]) — the same
    * values, shuffle-partitioned by bit position.
    */
  def bloomPreGate(corpus: DataFrame, batch: DataFrame, mBits: Int = 65536,
      kHashes: Int = 3): DataFrame = {
    if (mBits > (1 << 26)) return bloomPreGateJoin(corpus, batch, mBits, kHashes)
    graft.functions.BloomProbe.register(corpus.sparkSession)
    // ONE corpus md5 pass: the persisted distinct-fp frame feeds both
    // the bitmap build (positions are fp-dedup-invariant) and the
    // exact-check join — the corpus text is scanned and hashed once,
    // not twice (caller releases the cache per the Engine contract)
    val fps = corpus.select(md5(col("text")).as("fp")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val words = bloomBitmapOfFps(fps, mBits, kHashes)
    val corpusFps = fps.withColumn("dup", lit(true))
    val gated = batch
      .select(col("doc_id"), md5(col("text")).as("fp"))
      .select(col("doc_id"), col("fp"),
        call_function("bloom_probe", col("fp"),
          typedLit(words.toSeq), lit(mBits), lit(kHashes)).as("maybe_dup"))
    gated.join(corpusFps, Seq("fp"), "left")
      .select(col("doc_id"), col("maybe_dup"),
        coalesce(col("dup"), lit(false)).as("is_dup"),
        (col("maybe_dup") && !coalesce(col("dup"), lit(false)))
          .as("false_positive"))
  }

  /** the shuffle form of [[bloomPreGate]] for bitmaps past literal /
    * broadcast size: positions explode and equi-join on bit position,
    * per-doc AND via count aggregation — value-identical.
    */
  private[llm] def bloomPreGateJoin(corpus: DataFrame, batch: DataFrame,
      mBits: Int, kHashes: Int): DataFrame = {
    def fps(df: DataFrame) =
      df.select(col("doc_id"), md5(col("text")).as("fp"))
    def positions(df: DataFrame) =
      fps(df).select(col("doc_id"), col("fp"),
        explode(array_distinct(
          array(bloomPositions(col("fp"), mBits, kHashes): _*))).as("pos"))
    val filterBits = positions(corpus).select(col("pos")).distinct()
      .withColumn("hit", lit(1))
    val corpusFps = fps(corpus).select(col("fp")).distinct()
      .withColumn("dup", lit(true))
    val gated = positions(batch)
      .join(filterBits, Seq("pos"), "left")
      .groupBy(col("doc_id"), col("fp"))
      .agg(count(lit(1)).as("n_pos"),
        sum(coalesce(col("hit"), lit(0))).as("n_hit"))
      .withColumn("maybe_dup", col("n_hit") === col("n_pos"))
    gated.join(corpusFps, Seq("fp"), "left")
      .select(col("doc_id"), col("maybe_dup"),
        coalesce(col("dup"), lit(false)).as("is_dup"),
        (col("maybe_dup") && !coalesce(col("dup"), lit(false)))
          .as("false_positive"))
  }

  /** takedown / right-to-be-forgotten PROPAGATION — the compliance
    * operator a stored corpus needs: given a forget list (here the
    * deterministic `doc_id % forgetMod = 0` stand-in for a takedown
    * notice), remove not just the named docs but every copy of their
    * content the pipeline would otherwise keep serving:
    *   - `direct`:  the listed doc_ids themselves;
    *   - `content`: any doc whose normalized-content fingerprint
    *     ([[TextOps.fingerprint]]) matches a listed doc — verbatim
    *     re-crawls under different ids;
    *   - `cluster`: every member of a near-dup cluster
    *     ([[dupClusters]]) containing a listed doc — paraphrased /
    *     lightly-edited copies the exact fp misses.
    * One row per removed doc with the strongest reason
    * (direct > content > cluster). The caller anti-joins the corpus on
    * the result to produce the post-takedown corpus.
    *
    * Scale: the forget list is notice-sized (KBs) — its fp set and its
    * cluster-id set are both BROADCAST semi-join keys, so the corpus
    * passes are scan-throughput; the only heavy machinery is
    * [[dupClusters]], which a deployment already materializes for dedup
    * (pass its stored output via [[takedownPropagateWithClusters]] and
    * the whole takedown costs two broadcast semi-joins + one tiny agg —
    * delta-proportional, the x65 refresh argument applied to removal).
    */
  def takedownPropagate(docs: DataFrame, forgetMod: Long = 41L): DataFrame =
    takedownPropagateWithClusters(docs,
      docs.filter(col("doc_id") % forgetMod === 0).select(col("doc_id")),
      dupClusterLabels(docs))

  /** [[takedownPropagate]] against a PRE-BUILT cluster assignment (the
    * stored dedup artifact) — the production entry point.
    */
  def takedownPropagateWithClusters(docs: DataFrame, forget: DataFrame,
      clusters: DataFrame): DataFrame = {
    val fps = TextOps.fingerprint(docs).select(col("doc_id"), col("fp"))
    val forgetFps = fps.join(forget, Seq("doc_id"), "left_semi")
      .select(col("fp")).distinct()
    val badClusters = clusters.join(forget, Seq("doc_id"), "left_semi")
      .select(col("cluster_id")).distinct()
    val direct = forget.select(col("doc_id"), lit(1).as("pri"))
    val content = fps.join(broadcast(forgetFps), Seq("fp"), "left_semi")
      .select(col("doc_id"), lit(2).as("pri"))
    val viaCluster = clusters
      .join(broadcast(badClusters), Seq("cluster_id"), "left_semi")
      .select(col("doc_id"), lit(3).as("pri"))
    direct.union(content).union(viaCluster)
      .groupBy(col("doc_id")).agg(min(col("pri")).as("pri"))
      .select(col("doc_id"),
        when(col("pri") === 1, "direct")
          .when(col("pri") === 2, "content")
          .otherwise("cluster").as("reason"))
  }
}
