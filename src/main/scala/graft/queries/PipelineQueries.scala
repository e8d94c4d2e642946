package graft.queries

import org.apache.spark.sql.functions._

import graft.functions.{GraftFunctions, TextAnalysis}
import graft.operators.{BloomPrune, Chunking, Cooccur, Curation, Dedup, Graph, Histogram, LangModel, Layout, Multimodal, PageRank, Profiling, Quality, RangeJoin, Ranking, SkewJoin, Sketches, Snapshot, TimeSeries}
import Q.t

/** Round-4 widening: scale-infrastructure operators (bloom-pruned joins,
  * z-order layout) and the remaining LLM-corpus passes (BM25 retrieval,
  * keep-first segment dedup, bigram-LM quality scoring, train/val/test
  * splitting). No reference analog — this is the SURVEY.md §2.11 "beyond
  * the reference" surface, each entry DuckDB-oracle-paired.
  */
object PipelineQueries {

  private def sqlHash60(e: String) = s"('0x' || substr(md5($e), 1, 15))::BIGINT"

  /** DuckDB oracle for [[PageRank.pageRank]]: the iteration unrolled as
    * chained CTEs (r0..rN) — no recursive CTE needed, and aggregates stay
    * legal in every step. Literals are ::DOUBLE-cast so the constant
    * arithmetic ((1.0 - d), 1/deg) runs in IEEE double on both engines
    * (DuckDB decimal literals would otherwise fold (1.0 - 0.85) exactly
    * while Scala computes the double 0.15000000000000002).
    */
  private def pageRankSql(
      iters: Int,
      damping: Double,
      edgeSql: String =
        "SELECT DISTINCT l_suppkey AS src, l_partkey % 100 AS dst FROM lineitem")
      : String = {
    val steps = (1 to iters).map { i =>
      s"""r$i AS (
         |  SELECT n.id, (1.0::DOUBLE - $damping::DOUBLE)
         |      + $damping::DOUBLE * coalesce(m.m, 0.0::DOUBLE) AS pr
         |  FROM n LEFT JOIN (
         |    SELECT c.dst, sum(c.w * r.pr) AS m
         |    FROM c JOIN r${i - 1} r ON c.src = r.id GROUP BY c.dst) m
         |  ON n.id = m.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (
       |  $edgeSql),
       |deg AS (SELECT src, count(*)::DOUBLE AS deg FROM e GROUP BY src),
       |c AS (SELECT e.src, e.dst, 1.0::DOUBLE / deg.deg AS w FROM e JOIN deg USING (src)),
       |n AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
       |r0 AS (SELECT id, 1.0::DOUBLE AS pr FROM n),
       |$steps
       |SELECT id, round(pr, 6) AS pagerank FROM r$iters ORDER BY id""".stripMargin
  }

  val all: Seq[Q] = Seq(

    Q("q102_bloom_pruned_join",
      // Bloom-filter join pruning: lineitem rows are dropped in the scan
      // stage (before the shuffle) unless their suppkey MIGHT be a German
      // supplier; the exact join then removes the ~fpp false positives, so
      // the result is bit-identical to this plain join — which is exactly
      // what the oracle runs. Dim side is 1/25 of suppliers → ~96% of the
      // fact shuffle is avoided at scale. (Testdata nations are synthetic
      // NATION_0..NATION_24 — TESTDATA.md — not TPC-H country names.)
      """SELECT s_suppkey, count(*) AS n_items,
        |  round(sum(l_extendedprice), 2) AS sum_price
        |FROM lineitem, supplier, nation
        |WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
        |  AND n_name = 'NATION_7'
        |GROUP BY s_suppkey ORDER BY s_suppkey""".stripMargin) { (s, d) =>
      val dimNation = t(s, d, "supplier")
        .join(broadcast(t(s, d, "nation").filter(col("n_name") === "NATION_7")),
          col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey")
      val fact = t(s, d, "lineitem").select("l_suppkey", "l_extendedprice")
      BloomPrune.prunedEquiJoin(fact, "l_suppkey", dimNation, "s_suppkey",
          expectedItems = 1L << 12, fpp = 0.01)
        .groupBy("s_suppkey")
        .agg(count(lit(1)).as("n_items"),
          round(sum("l_extendedprice"), 2).as("sum_price"))
        .orderBy("s_suppkey")
    },

    Q("q103_bm25_topk",
      // BM25 retrieval over the corpus for a fixed 3-term query — the
      // lexical scoring pass of retrieval-based curation. Fixed-order
      // per-term summation + rounded-score ranking keep the top-k cut
      // engine-stable (the q70 lesson).
      Ranking.bm25Sql(Seq("spark", "stream", "vector"))) { (s, d) =>
      Ranking.bm25TopK(t(s, d, "documents"), "doc_id", "text",
        Seq("spark", "stream", "vector"))
    },

    Q("q104_segment_dedup_keep_first",
      // corpus-wide exact segment dedup, keep-FIRST occurrence (RefinedWeb
      // "exact substring dedup" at 8-token segments): min(struct) winner
      // per segment — a map-side-combining aggregate, skew-safe where a
      // row_number window would sort every duplicate. clean text md5'd so
      // compared rows stay narrow (q92 convention).
      """WITH w AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |s AS (
        |  SELECT doc_id, i AS idx, array_to_string(toks[i*8+1 : i*8+8], ' ') AS seg
        |  FROM (SELECT doc_id, toks, unnest(generate_series(0, (len(toks)-1)//8)) AS i
        |        FROM w WHERE len(toks) >= 1)),
        |k AS (
        |  SELECT doc_id, idx, seg,
        |    row_number() OVER (PARTITION BY seg ORDER BY doc_id, idx) AS rn
        |  FROM s)
        |SELECT doc_id, count(*) AS n_segs,
        |  count(CASE WHEN rn > 1 THEN 1 END) AS n_dropped,
        |  md5(coalesce(string_agg(CASE WHEN rn = 1 THEN seg END, ' ' ORDER BY idx), ''))
        |    AS clean_md5
        |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      Curation.dedupSegmentsKeepFirst(t(s, d, "documents"), "doc_id", "text",
          segTokens = 8)
        .select(col("doc_id"), col("n_segs"), col("n_dropped"),
          md5(col("clean_text")).as("clean_md5"))
        .orderBy("doc_id")
    },

    Q("q105_bigram_lm_score",
      // corpus-trained bigram-LM quality scoring (KenLM-style perplexity
      // proxy): model counts over the FULL corpus, scores for the doc_id <
      // 200 batch — train-on-all / score-the-batch, the standard quality-
      // filter shape. avg(ln ·) is rounded to 6 dp: summation-order and
      // libm 1-ulp noise sit ~1e-13 below the grid (q70/q49 rule).
      """WITH w AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |bi AS (
        |  SELECT doc_id, toks[__i] AS w1, toks[__i + 1] AS w2
        |  FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS __i
        |        FROM w WHERE len(toks) >= 2)),
        |c12 AS (SELECT w1, w2, count(*)::DOUBLE AS __c12 FROM bi GROUP BY w1, w2),
        |c1 AS (SELECT w1, count(*)::DOUBLE AS __c1 FROM bi GROUP BY w1)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  round(avg(ln(__c12 / __c1)), 6) AS avg_logp
        |FROM bi JOIN c12 USING (w1, w2) JOIN c1 USING (w1)
        |WHERE doc_id < 200 GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      LangModel.bigramLogProb(t(s, d, "documents"), "doc_id", "text",
          scoreFilter = col("doc_id") < 200)
        .orderBy("doc_id")
    },

    Q("q106_zorder_values",
      // Morton (z-order) interleave of (l_partkey, l_suppkey) — the layout
      // key behind multi-dimension file skipping (TxTable.ingestZOrdered
      // + per-file stats). Pure bitwise codegen'd arithmetic, identical
      // expression on both engines; unique (orderkey, linenumber)
      // tiebreak makes the LIMIT cut deterministic.
      s"""SELECT l_orderkey, l_linenumber,
         |  ${Layout.zorder16Sql("l_partkey", "l_suppkey")} AS zval
         |FROM lineitem
         |ORDER BY zval, l_orderkey, l_linenumber LIMIT 50""".stripMargin) { (s, d) =>
      t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          Layout.zorder16(col("l_partkey"), col("l_suppkey")).as("zval"))
        .orderBy(col("zval"), col("l_orderkey"), col("l_linenumber"))
        .limit(50)
    },

    Q("q173_txtable_pruned_read",
      // data skipping END TO END: orders is z-order-ingested into a
      // TxTable (16 Morton buckets over (o_custkey, o_orderkey), per-file
      // min/max stats in the commit log), then read back with a
      // stats-prune on o_custkey — the read opens only the files whose
      // recorded range can match (TxTableStatsSpec pins files-opened ≪
      // total). Pruning is a conservative SUPERSET pre-filter, so after
      // the exact row filter the answer must hash-match DuckDB's plain
      // full scan of the source parquet — which is exactly this oracle.
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders
        |WHERE o_custkey BETWEEN 31 AND 142
        |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      import graft.streaming.TxTable
      val table = Q.scratchDir("graft-q173") + "/orders_z"
      TxTable.ingestZOrdered(s, t(s, d, "orders"), table,
        "o_custkey", "o_orderkey", buckets = 16)
      TxTable.read(s, table,
          pruneBy = Seq(TxTable.ColRange("o_custkey", Some(31L), Some(142L)))).get
        .filter(col("o_custkey").between(31L, 142L))
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .orderBy("o_orderkey")
    },

    Q("q228_txtable_bloom_lookup",
      // BLOOM data skipping end to end — the point-lookup case range
      // stats cannot touch: orders lands as LSM delta files whose
      // o_orderkey ranges ALL span the whole key space (arrival order,
      // not key order — the realistic ingest layout), addBlooms records
      // a per-file bloom on o_orderkey as a metadata-only commit, and
      // the point reads prune on definite bloom misses
      // (TxTableStatsSpec pins files-opened < total). The bloom is a
      // conservative pre-filter, so after the exact row filter the
      // probed keys must hash-match DuckDB's plain scan — this oracle.
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders
        |WHERE o_orderkey IN (32, 4711, 29443)
        |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      import graft.streaming.TxTable
      val table = Q.scratchDir("graft-q228") + "/orders_bloom"
      val orders = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .withColumn("part", lit("all"))
      // 4 arrival-order delta slices: every file's key range spans ~all
      (0L until 4L).foreach { b =>
        TxTable.upsertDelta(s, orders.filter(col("o_orderkey") % 4 === b),
          table, partitionCol = "part",
          keys = Seq("part", "o_orderkey"), order = Seq("o_totalprice"))
      }
      TxTable.addBlooms(s, table, Seq("o_orderkey"),
        expectedItems = 5000L, fpp = 0.01)
      val keys = Seq(32L, 4711L, 29443L)
      keys.map { k =>
        TxTable.readMerged(s, table, keys = Seq("part", "o_orderkey"),
            order = Seq("o_totalprice"),
            pruneBy = Seq(TxTable.ColRange("o_orderkey", Some(k), Some(k))))
          .map(_.filter(col("o_orderkey") === k))
      }.collect { case Some(df) => df }
        .reduceOption(_ unionByName _)
        .getOrElse(orders.limit(0))
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .orderBy("o_orderkey")
    },

    Q("q203_txtable_delete",
      // keyed DELETE end to end — the right-to-be-forgotten lifecycle:
      // orders lands in a TxTable (partitioned by status), every
      // o_orderkey ≡ 0 mod 7 is erased via deleteKeys (partition
      // rewrite, one ACID commit; time travel keeps the audit window,
      // vacuum makes it physical — TxTableStatsSpec pins both), and the
      // table reads back EXACTLY like a source that never had the rows —
      // which is this oracle. Integer aggregates keep the compare exact.
      """SELECT o_orderstatus, count(*)::BIGINT AS n_rows,
        |  CAST(sum(o_orderkey) AS BIGINT) AS sum_okey
        |FROM orders WHERE o_orderkey % 7 <> 0
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) { (s, d) =>
      import graft.streaming.TxTable
      val table = Q.scratchDir("graft-q203") + "/orders_tx"
      val orders = t(s, d, "orders").select(
        col("o_orderstatus"), col("o_orderkey"), col("o_orderdate"))
      TxTable.mergeLatest(s, orders, table, partitionCol = "o_orderstatus",
        keys = Seq("o_orderstatus", "o_orderkey"), order = Seq("o_orderdate"))
      TxTable.deleteKeys(s,
        orders.filter(col("o_orderkey") % 7 === 0)
          .select("o_orderstatus", "o_orderkey"),
        table, partitionCol = "o_orderstatus",
        keys = Seq("o_orderstatus", "o_orderkey"))
      TxTable.read(s, table).get
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_rows"), sum(col("o_orderkey")).as("sum_okey"))
        .orderBy("o_orderstatus")
    },

    Q("q226_txtable_restore",
      // RESTORE end to end — the bad-deploy rollback lifecycle: orders
      // lands in a TxTable (v0), a "bad" batch overwrites every %13
      // order's date and inserts junk rows (v1), restore(v0) rolls the
      // table back AS A COMMIT (v2, nothing copied or deleted), and one
      // more good merge lands on top (v3). The read must equal a source
      // that never saw the bad batch — which is this oracle. The bad
      // batch is provably gone AND still auditable one time-travel hop
      // away (TxTableRestoreSpec pins the history side).
      """WITH good AS (
        |  SELECT o_orderstatus, o_orderkey,
        |    CASE WHEN o_orderkey % 17 = 0 THEN DATE '2030-01-01'
        |         ELSE o_orderdate END AS o_orderdate
        |  FROM orders)
        |SELECT o_orderstatus, count(*)::BIGINT AS n_rows,
        |  CAST(sum(o_orderkey) AS BIGINT) AS sum_okey,
        |  CAST(max(o_orderdate) AS TIMESTAMP) AS max_date
        |FROM good GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) { (s, d) =>
      import graft.streaming.TxTable
      val table = Q.scratchDir("graft-q226") + "/orders_tx"
      val orders = t(s, d, "orders").select(
        col("o_orderstatus"), col("o_orderkey"), col("o_orderdate"))
      val v0 = TxTable.mergeLatest(s, orders, table,
        partitionCol = "o_orderstatus",
        keys = Seq("o_orderstatus", "o_orderkey"), order = Seq("o_orderdate"))
      // the bad batch: corrupts %13 dates (future-dated, so the
      // last-value merge really takes them) and inserts junk keys
      TxTable.mergeLatest(s,
        orders.filter(col("o_orderkey") % 13 === 0)
          .withColumn("o_orderdate", to_date(lit("2040-12-31")))
          .unionByName(orders.limit(5)
            .withColumn("o_orderkey", col("o_orderkey") + 900000000L)),
        table, partitionCol = "o_orderstatus",
        keys = Seq("o_orderstatus", "o_orderkey"), order = Seq("o_orderdate"))
      TxTable.restore(table, v0)
      // life goes on: a legitimate update on top of the restored state
      TxTable.mergeLatest(s,
        orders.filter(col("o_orderkey") % 17 === 0)
          .withColumn("o_orderdate", to_date(lit("2030-01-01"))),
        table, partitionCol = "o_orderstatus",
        keys = Seq("o_orderstatus", "o_orderkey"), order = Seq("o_orderdate"))
      TxTable.read(s, table).get
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("o_orderkey")).as("sum_okey"),
          max(col("o_orderdate")).cast("timestamp").as("max_date"))
        .orderBy("o_orderstatus")
    },

    Q("q108_neardup_removal",
      // End-to-end near-duplicate REMOVAL: MinHash-LSH pairs (the q34
      // pipeline) → connected components (log-round pointer jumping) →
      // keep the min-id representative per cluster + every unpaired doc.
      // The oracle replays the full LSH chain (shared minhashCtes), then
      // closes the pair graph with a recursive CTE: a doc is dropped iff
      // some SMALLER doc id is reachable in the (symmetrized) pair graph —
      // exactly the min-label semantics of Dedup.dupClusters.
      s"""WITH RECURSIVE ${ExtendedQueries.minhashCtes},
         |p AS (
         |  SELECT i.id1, i.id2 FROM inter i
         |  JOIN sizes z1 ON z1.doc_id = i.id1
         |  JOIN sizes z2 ON z2.doc_id = i.id2
         |  WHERE i.i::DOUBLE / (z1.sz + z2.sz - i.i) >= 0.5),
         |e AS (SELECT id1 AS a, id2 AS b FROM p UNION SELECT id2, id1 FROM p),
         |reach(a, b) AS (
         |  SELECT a, b FROM e
         |  UNION
         |  SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a),
         |drops AS (SELECT a AS doc_id FROM reach GROUP BY a HAVING min(b) < a)
         |SELECT d.doc_id, d.lang, d.n_chars FROM documents d
         |WHERE d.doc_id NOT IN (SELECT doc_id FROM drops)
         |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
      val docs = t(s, d, "documents")
      val pairs = Dedup.nearDupPairsMinHash(docs, "doc_id", "text",
          shingleK = 3, numHashes = 12, rowsPerBand = 4, threshold = 0.5)
        .select("id1", "id2")
      Dedup.keepRepresentatives(docs, "doc_id", pairs)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy("doc_id")
    },

    Q("q167_soft_dedup",
      // SOFT dedup ("keep each copy with probability ~1/n" — the
      // frequency-equalizing alternative to hard removal): cluster sizes
      // from the LSH pair graph's connected components; every NON-min
      // member survives its own deterministic integer-basis-point draw
      // hash60(id) % 10^4 < 10^4 div n, and the cluster-min survives only
      // as the fallback when no other member drew survival (at least one
      // copy always remains; expected survivors 1 → 1+1/e, never ~2 as
      // the earlier unconditional-min rule kept). The oracle closes the
      // same pair graph with a recursive CTE, counts each component, and
      // replays the identical draw + fallback — any drift in clustering
      // OR the sampling recipe breaks the hash.
      s"""WITH RECURSIVE ${ExtendedQueries.minhashCtes},
         |p AS (
         |  SELECT i.id1, i.id2 FROM inter i
         |  JOIN sizes z1 ON z1.doc_id = i.id1
         |  JOIN sizes z2 ON z2.doc_id = i.id2
         |  WHERE i.i::DOUBLE / (z1.sz + z2.sz - i.i) >= 0.5),
         |e AS (SELECT id1 AS a, id2 AS b FROM p UNION SELECT id2, id1 FROM p),
         |reach(a, b) AS (
         |  SELECT a, b FROM e
         |  UNION
         |  SELECT r.a, e2.b FROM reach r JOIN e AS e2 ON r.b = e2.a),
         |comp AS (
         |  SELECT a AS doc_id,
         |    count(DISTINCT b) FILTER (WHERE b <> a) + 1 AS n,
         |    least(a, min(b)) AS cmin
         |  FROM reach GROUP BY a),
         |draw AS (
         |  SELECT doc_id, n, cmin,
         |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 10000
         |      < 10000 // n AS pass
         |  FROM comp),
         |oth AS (
         |  SELECT cmin, max(CASE WHEN doc_id <> cmin AND pass THEN 1 ELSE 0 END)
         |    AS any_other
         |  FROM draw GROUP BY cmin)
         |SELECT d.doc_id, CAST(coalesce(c.n, 1) AS BIGINT) AS cluster_size
         |FROM documents d
         |LEFT JOIN draw c USING (doc_id)
         |LEFT JOIN oth o ON c.cmin = o.cmin
         |WHERE CASE WHEN c.doc_id IS NULL THEN true
         |           WHEN d.doc_id = c.cmin THEN o.any_other = 0
         |           ELSE c.pass END
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = t(s, d, "documents")
      val pairs = Dedup.nearDupPairsMinHash(docs, "doc_id", "text",
          shingleK = 3, numHashes = 12, rowsPerBand = 4, threshold = 0.5)
        .select("id1", "id2")
      Dedup.softDedup(docs, "doc_id", pairs)
        .select(col("doc_id"), col("cluster_size"))
        .orderBy("doc_id")
    },

    Q("q109_pagerank",
      // 5-iteration PageRank over the supplier -> part-bucket link graph
      // (suppkey and partkey%100 share the 0..99 id space, so the graph is
      // cyclic and dense). Values are ~1-magnitude sums of <=100 terms;
      // the 6dp grid sits ~7 orders above cross-engine summation noise.
      pageRankSql(iters = 5, damping = 0.85)) { (s, d) =>
      val edges = t(s, d, "lineitem")
        .select(col("l_suppkey").as("src"), (col("l_partkey") % 100).as("dst"))
      PageRank.pageRank(edges, iters = 5, damping = 0.85)
        .select(col("id"), round(col("pr"), 6).as("pagerank"))
        .orderBy("id")
    },

    Q("q110_salted_skew_join",
      // Salted equi-join: the fact side is salted by a deterministic
      // row-hash, the build side replicated numSalts times, so a hot
      // join key spreads over numSalts shuffle partitions instead of one
      // straggler task. Salting only changes partitioning — the oracle is
      // the PLAIN join, which is the operator's exactness contract.
      """SELECT l_suppkey, s_name, count(*) AS n_items,
        |  round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY l_suppkey, s_name ORDER BY l_suppkey""".stripMargin) { (s, d) =>
      val fact = t(s, d, "lineitem").select("l_suppkey", "l_quantity")
      val build = t(s, d, "supplier").select("s_suppkey", "s_name")
      SkewJoin.saltedEquiJoin(fact, "l_suppkey", build, "s_suppkey", numSalts = 8)
        .groupBy("l_suppkey", "s_name")
        .agg(count(lit(1)).as("n_items"),
          round(sum("l_quantity"), 2).as("sum_qty"))
        .orderBy("l_suppkey")
    },

    Q("q111_winsorized_stats",
      // Winsorized per-group stats over a column WITH nulls (event_id%7
      // slice nulled out): clipping keeps every row but bounds outlier
      // leverage; null rows stay null in both means (they carry no
      // measurement) while n counts all rows. percentile_cont is the ANSI
      // twin of Spark's exact interpolated percentile.
      """WITH v AS (
        |  SELECT event_type,
        |    CASE WHEN event_id % 7 <> 0 THEN value END AS v FROM events),
        |b AS (
        |  SELECT event_type,
        |    percentile_cont(0.05) WITHIN GROUP (ORDER BY v) AS lo,
        |    percentile_cont(0.95) WITHIN GROUP (ORDER BY v) AS hi
        |  FROM v GROUP BY event_type)
        |SELECT v.event_type, count(*) AS n,
        |  round(any_value(b.lo), 4) AS p_lo, round(any_value(b.hi), 4) AS p_hi,
        |  round(avg(CASE WHEN v.v IS NULL THEN NULL
        |    ELSE least(greatest(v.v, b.lo), b.hi) END), 4) AS winsorized_mean,
        |  round(avg(v.v), 4) AS raw_mean
        |FROM v JOIN b USING (event_type)
        |GROUP BY v.event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      val v = t(s, d, "events").select(col("event_type"),
        when(col("event_id") % 7 =!= 0, col("value")).as("v"))
      Histogram.winsorizedStats(v, "event_type", "v", loP = 0.05, hiP = 0.95)
        .orderBy("event_type")
    },

    Q("q112_token_kl_divergence",
      // Per-language token-distribution drift: KL(P_lang || P_corpus) over
      // whitespace tokens — the mixture-monitoring signal. The oracle
      // mirrors the single (group, token) aggregation + window shape;
      // integer counts divide in IEEE double on both engines.
      """WITH toks AS (
        |  SELECT lang AS g, unnest(string_split_regex(trim(text), '\s+')) AS tok
        |  FROM documents),
        |gc AS (
        |  SELECT g, tok, count(*) AS k_g FROM toks
        |  WHERE length(tok) >= 1 GROUP BY g, tok),
        |w AS (
        |  SELECT g, k_g,
        |    sum(k_g) OVER (PARTITION BY tok) AS k_c,
        |    sum(k_g) OVER (PARTITION BY g) AS n_g,
        |    sum(k_g) OVER () AS corpus_n
        |  FROM gc)
        |SELECT g AS lang, n_g::BIGINT AS n_tokens,
        |  round(sum((k_g::DOUBLE / n_g::DOUBLE)
        |    * ln((k_g::DOUBLE / n_g::DOUBLE) / (k_c::DOUBLE / corpus_n::DOUBLE))), 6)
        |    AS kl
        |FROM w GROUP BY g, n_g ORDER BY lang""".stripMargin) { (s, d) =>
      Curation.tokenKlDivergence(t(s, d, "documents"), "lang", "text")
        .withColumnRenamed("g", "lang")
        .orderBy("lang")
    },

    Q("q113_char_entropy",
      // Per-doc character-distribution Shannon entropy (nats) — the
      // repetitive/degenerate-text quality signal. Spark side is the
      // one-pass codegen char_entropy expression; the oracle rebuilds the
      // distribution relationally (per-char unnest -> counts -> -Σ p·ln p).
      """WITH ch AS (
        |  SELECT doc_id, substring(text, i, 1) AS c
        |  FROM (SELECT doc_id, text, unnest(generate_series(1, length(text))) AS i
        |        FROM documents)),
        |cnt AS (SELECT doc_id, c, count(*)::DOUBLE AS k FROM ch GROUP BY doc_id, c),
        |e AS (
        |  SELECT doc_id, -sum((k / n) * ln(k / n)) AS h
        |  FROM (SELECT doc_id, k, sum(k) OVER (PARTITION BY doc_id) AS n FROM cnt)
        |  GROUP BY doc_id)
        |SELECT d.doc_id, round(coalesce(e.h, 0.0), 6) AS entropy
        |FROM documents d LEFT JOIN e USING (doc_id) ORDER BY d.doc_id""".stripMargin) { (s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"),
          round(TextAnalysis.charEntropy(col("text")), 6).as("entropy"))
        .orderBy("doc_id")
    },

    Q("q114_token_pmi",
      // Top token pairs by document-level PMI (Church & Hanks collocation
      // association) within a top-50-df vocabulary — the vocabulary cut is
      // what bounds the per-doc pair fanout at C(50,2) regardless of
      // corpus size. Ranking is over the ROUNDED pmi with a (w1,w2)
      // tiebreak so the LIMIT cut is engine-stable.
      """WITH toks AS (
        |  SELECT DISTINCT doc_id, tok FROM (
        |    SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
        |    FROM documents)
        |  WHERE length(tok) >= 1),
        |dfc AS (SELECT tok, count(*) AS df FROM toks GROUP BY tok),
        |vocab AS (SELECT tok, df FROM dfc ORDER BY df DESC, tok LIMIT 50),
        |vt AS (SELECT t.doc_id, t.tok, v.df FROM toks t JOIN vocab v USING (tok)),
        |p AS (
        |  SELECT a.tok AS w1, b.tok AS w2, a.df AS df1, b.df AS df2,
        |    count(*) AS c12
        |  FROM vt a JOIN vt b ON a.doc_id = b.doc_id AND a.tok < b.tok
        |  GROUP BY 1, 2, 3, 4),
        |n AS (SELECT count(*)::DOUBLE AS nd FROM documents)
        |SELECT w1, w2, c12,
        |  round(ln((c12::DOUBLE * nd) / (df1::DOUBLE * df2::DOUBLE)), 6) AS pmi
        |FROM p, n WHERE c12 >= 20
        |ORDER BY pmi DESC, w1, w2 LIMIT 100""".stripMargin) { (s, d) =>
      Cooccur.tokenPmiTopK(t(s, d, "documents"), "doc_id", "text",
        vocabSize = 50, minPairDocs = 20, topK = 100)
    },

    Q("q115_triangle_census",
      // Global triangle census over the supplier↔part-bucket link graph
      // (the q109 graph): nodes/edges/wedges/triangles + transitivity.
      // The Spark side counts each triangle ONCE at its (deg,id)-minimal
      // apex via degree-ordered orientation (wedge fanout O(m^1.5), no
      // Σdeg² hub blowup); the oracle counts the same set with the naive
      // a<b<c three-way self-join DuckDB can afford at this scale.
      """WITH e AS (
        |  SELECT DISTINCT least(l_suppkey, l_partkey % 100) AS a,
        |                  greatest(l_suppkey, l_partkey % 100) AS b
        |  FROM lineitem WHERE l_suppkey <> l_partkey % 100),
        |deg AS (
        |  SELECT v, count(*) AS d FROM (
        |    SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e) GROUP BY v),
        |tri AS (
        |  SELECT count(*) AS n_triangles
        |  FROM e e1 JOIN e e2 ON e2.a = e1.b
        |    JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
        |ds AS (SELECT count(*) AS n_nodes,
        |         sum(d * (d - 1) // 2)::BIGINT AS n_wedges FROM deg),
        |m AS (SELECT count(*) AS n_edges FROM e)
        |SELECT n_nodes, n_edges, n_wedges, n_triangles,
        |  CASE WHEN n_wedges = 0 THEN NULL
        |       ELSE round(3.0 * n_triangles / n_wedges, 6) END AS transitivity
        |FROM ds, m, tri""".stripMargin) { (s, d) =>
      Graph.triangleStats(
        t(s, d, "lineitem")
          .select(col("l_suppkey").as("src"), (col("l_partkey") % 100).as("dst")),
        "src", "dst")
    },

    Q("q116_inverted_index",
      // Inverted index (term -> exact df + sorted posting-list HEAD) over
      // the corpus — the lexical-retrieval artifact. Postings truncate at
      // 25 entries (a stopword's full list is the whole corpus — the skew
      // hazard a production index tiers); df stays exact.
      """WITH p AS (
        |  SELECT DISTINCT doc_id, tok FROM (
        |    SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
        |    FROM documents)
        |  WHERE length(tok) >= 1)
        |SELECT tok AS term, count(*) AS df,
        |  array_to_string(list_slice(list(doc_id::VARCHAR ORDER BY doc_id), 1, 25),
        |    ',') AS postings
        |FROM p GROUP BY tok HAVING count(*) >= 5
        |ORDER BY term""".stripMargin) { (s, d) =>
      Ranking.invertedIndex(t(s, d, "documents"), "doc_id", "text",
        minDf = 5, postingsCap = 25)
    },

    Q("q117_duplicate_spans",
      // Cross-doc duplicate 8-token SPAN detection (Lee et al. exact-
      // substring dedup diagnostic): stride-1 sliding windows catch a
      // duplicated passage at ANY alignment, where q104's disjoint
      // segments only catch aligned copies. Spans are md5'd so compared
      // rows stay 16 bytes (q92/q104 convention).
      """WITH w AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, md5(array_to_string(toks[i : i + 7], ' ')) AS span_md5
        |  FROM (SELECT doc_id, toks,
        |          unnest(generate_series(1, len(toks) - 7)) AS i
        |        FROM w WHERE len(toks) >= 8))
        |SELECT span_md5, count(DISTINCT doc_id) AS n_docs,
        |  count(*) AS n_occurrences
        |FROM s GROUP BY span_md5 HAVING count(DISTINCT doc_id) >= 2
        |ORDER BY n_occurrences DESC, n_docs DESC, span_md5 LIMIT 100""".stripMargin) { (s, d) =>
      Curation.duplicateSpans(t(s, d, "documents"), "doc_id", "text",
        spanTokens = 8, minDocs = 2, topK = 100)
    },

    Q("q118_weighted_sample",
      // Efraimidis-Spirakis weighted sample without replacement, k=50 by
      // n_chars mass: key = ln(u)/w with u a pure hash-uniform of doc_id,
      // so the sample is bit-reproducible across engines/runs/partitions.
      // Ranked on the 9dp-ROUNDED key (q70 cut-stability lesson).
      s"""SELECT doc_id, n_chars,
         |  round(ln((${sqlHash60("doc_id::VARCHAR")} + 1)::DOUBLE
         |      / 1152921504606846977::DOUBLE) / n_chars::DOUBLE, 9) AS es_key
         |FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0
         |ORDER BY es_key DESC, doc_id LIMIT 50""".stripMargin) { (s, d) =>
      Curation.weightedSampleTopK(t(s, d, "documents"), "doc_id", "n_chars", k = 50)
    },

    Q("q119_multires_rollup",
      // Multi-resolution telemetry rollup (minute/hour/day tiers) in ONE
      // shuffle via GROUPING SETS: Spark plans a single Expand feeding one
      // partial-aggregated exchange where the naive union reads+shuffles
      // the fact table three times. The oracle IS the naive union — same
      // rows, three scans DuckDB can afford here.
      """WITH e AS (
        |  SELECT event_type, CAST(ts AS TIMESTAMP) AS ts, value FROM events
        |  WHERE ts IS NOT NULL)
        |SELECT event_type, 'minute' AS resolution,
        |  date_trunc('minute', ts)::TIMESTAMP AS bucket, count(*) AS n,
        |  round(sum(value), 2) AS sum_value,
        |  min(value) AS min_value, max(value) AS max_value
        |FROM e GROUP BY event_type, date_trunc('minute', ts)
        |UNION ALL
        |SELECT event_type, 'hour', date_trunc('hour', ts)::TIMESTAMP, count(*),
        |  round(sum(value), 2), min(value), max(value)
        |FROM e GROUP BY event_type, date_trunc('hour', ts)
        |UNION ALL
        |SELECT event_type, 'day', date_trunc('day', ts)::TIMESTAMP, count(*),
        |  round(sum(value), 2), min(value), max(value)
        |FROM e GROUP BY event_type, date_trunc('day', ts)
        |ORDER BY resolution, event_type, bucket""".stripMargin) { (s, d) =>
      TimeSeries.multiResolutionRollup(t(s, d, "events"), "event_type", "ts", "value")
        .orderBy("resolution", "event_type", "bucket")
    },

    Q("q120_key_skew_profile",
      // Pre-flight shuffle-key diagnostics on lineitem.l_suppkey: the
      // profile that decides between a plain join, q110's salting, or a
      // broadcast. percentile_cont is the ANSI twin of Spark's exact
      // interpolated percentile (q111 pairing).
      """WITH fr AS (
        |  SELECT coalesce(l_suppkey::VARCHAR, '<null>') AS k, count(*) AS f
        |  FROM lineitem GROUP BY 1)
        |SELECT sum(f)::BIGINT AS n_rows, count(*) AS n_keys,
        |  max(f) AS max_freq,
        |  (SELECT k FROM fr ORDER BY f DESC, k DESC LIMIT 1) AS max_key,
        |  percentile_cont(0.5) WITHIN GROUP (ORDER BY f) AS p50_freq,
        |  percentile_cont(0.99) WITHIN GROUP (ORDER BY f) AS p99_freq,
        |  round(max(f) * count(*)::DOUBLE / sum(f), 4) AS skew
        |FROM fr""".stripMargin) { (s, d) =>
      Profiling.keySkewProfile(t(s, d, "lineitem"), "l_suppkey")
    },

    Q("q121_int8_quantize",
      // Symmetric int8 embedding quantization (scale + integer checksum)
      // as a one-pass codegen expression — the vector-store compression
      // pass. floor(x*s + 0.5) on BOTH engines (not round(): DuckDB
      // rounds halves away from zero, Java toward +inf — the only op
      // whose halves break differently), and the checksum is an exact
      // integer sum, so the compare is bit-strict, no tolerance.
      """WITH m AS (
        |  SELECT vec_id, embedding,
        |    CASE WHEN len(list_filter(embedding,
        |           x -> isnan(x::DOUBLE) OR isinf(x::DOUBLE))) > 0 THEN NULL
        |      ELSE nullif(list_max(list_transform(embedding,
        |             x -> abs(x::DOUBLE))), 0.0) END AS maxabs
        |  FROM embeddings)
        |SELECT vec_id, round(127.0 / maxabs, 6) AS scale,
        |  list_sum(list_transform(embedding,
        |    x -> floor(x::DOUBLE * (127.0 / maxabs) + 0.5)))::BIGINT AS checksum
        |FROM m ORDER BY vec_id""".stripMargin) { (s, d) =>
      t(s, d, "embeddings")
        .select(col("vec_id"), GraftFunctions.int8Quant(col("embedding")).as("__q"))
        .select(col("vec_id"), round(col("__q.scale"), 6).as("scale"),
          col("__q.checksum").as("checksum"))
        .orderBy("vec_id")
    },

    Q("q122_weighted_sample_per_group",
      // Stratified WEIGHTED sampling: an independent Efraimidis-Spirakis
      // draw of k=10 docs per language by n_chars mass — q118's global
      // top-k becomes a per-group row_number over the same pure-hash keys
      // (bounded per-partition state; group skew capped by the partition).
      s"""WITH w AS (
         |  SELECT lang, doc_id, n_chars,
         |    round(ln((${sqlHash60("doc_id::VARCHAR")} + 1)::DOUBLE
         |        / 1152921504606846977::DOUBLE) / n_chars::DOUBLE, 9) AS es_key
         |  FROM documents
         |  WHERE lang IS NOT NULL AND n_chars IS NOT NULL AND n_chars > 0),
         |r AS (
         |  SELECT *, row_number()
         |    OVER (PARTITION BY lang ORDER BY es_key DESC, doc_id) AS rn
         |  FROM w)
         |SELECT lang, doc_id, n_chars, es_key FROM r WHERE rn <= 10
         |ORDER BY lang, es_key DESC, doc_id""".stripMargin) { (s, d) =>
      Curation.weightedSamplePerGroup(t(s, d, "documents"),
          "lang", "doc_id", "n_chars", k = 10)
        .orderBy(col("lang"), col("es_key").desc, col("doc_id"))
    },

    Q.noOracle("q123_hll_sketch_rollup") { (s, d) =>
      // Two-level mergeable-HLL rollup: per-(event_type, day) DataSketches
      // HLL sketches of user_id merged per type — kilobyte register arrays
      // shuffle upward instead of the raw value stream. No DuckDB oracle
      // (sketch binaries aren't portable across HLL implementations); the
      // exact_distinct column rides along so the row is self-auditing, and
      // SketchesSpec pins the union-vs-whole identity + error envelope.
      Sketches.hllRollup(t(s, d, "events"), "event_type",
          date_trunc("day", col("ts")), "user_id")
        .orderBy("event_type")
    },

    Q("q123b_hll_rollup_envelope",
      // q123's ENVELOPE replay twin (VERDICT r16 task #7): the merged
      // DataSketches estimate is merge-topology-sensitive (no hash
      // oracle possible), but its error contract is replayable — at
      // lgK=12 the union estimate must land within the 5% envelope
      // SketchesSpec pins (3×RSE ≈ 4.9%). Bucket structure (exact) and
      // the bounded comparison (boolean) are what the oracle checks; a
      // sketch-merge regression past the envelope hash-mismatches.
      """SELECT event_type,
        |  count(DISTINCT date_trunc('day', ts))::BIGINT AS n_buckets,
        |  count(DISTINCT user_id)::BIGINT AS exact_distinct,
        |  true AS in_envelope
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      Sketches.hllRollup(t(s, d, "events"), "event_type",
          date_trunc("day", col("ts")), "user_id")
        .select(col("event_type"), col("n_buckets"), col("exact_distinct"),
          (col("rel_err") <= 0.05).as("in_envelope"))
        .orderBy("event_type")
    },

    Q("q124_snapshot_diff",
      // CDC diff between two snapshot versions (old: ~1/97 of orders not
      // yet inserted; new: ~1/89 deleted, ~1/101 repriced): one full
      // outer join on the key over 16-byte content hashes — the shuffle
      // never carries the wide rows, unchanged rows are dropped. The
      // oracle diffs the same two views by direct value comparison.
      """WITH old AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |  WHERE o_orderkey % 97 <> 0),
        |new AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CASE WHEN o_orderkey % 101 = 0 THEN round(o_totalprice + 1, 2)
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM orders WHERE o_orderkey % 89 <> 0)
        |SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
        |  CASE WHEN o.o_orderkey IS NULL THEN 'added'
        |       WHEN n.o_orderkey IS NULL THEN 'removed'
        |       WHEN o.o_totalprice <> n.o_totalprice
        |         OR o.o_orderstatus <> n.o_orderstatus THEN 'changed' END
        |  AS change_type
        |FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
        |WHERE (o.o_orderkey IS NULL OR n.o_orderkey IS NULL
        |  OR o.o_totalprice <> n.o_totalprice
        |  OR o.o_orderstatus <> n.o_orderstatus)
        |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      val base = t(s, d, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val oldSnap = base.filter(col("o_orderkey") % 97 =!= 0)
      val newSnap = base.filter(col("o_orderkey") % 89 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 101 === 0, round(col("o_totalprice") + 1, 2))
            .otherwise(col("o_totalprice")))
      Snapshot.diff(oldSnap, newSnap, "o_orderkey",
          Seq("o_orderstatus", "o_totalprice"))
        .orderBy("o_orderkey")
    },

    Q("q125_scd2_point_in_time",
      // SCD2 point-in-time join: each supplier carries 3 dim versions
      // with [v*100, v*100+99] validity; facts join to the version whose
      // window covers their event point — RangeJoin's bucketed-equi
      // rewrite WITH the per-entity equi-key, so candidates are
      // (supplier, bucket)-local, never a nested loop over versions.
      """WITH dim AS (
        |  SELECT s_suppkey, v AS version, v * 100 AS valid_from,
        |    v * 100 + 99 AS valid_to, round(s_acctbal + v * 1000, 2) AS acct
        |  FROM supplier, (SELECT unnest(generate_series(0, 2)) AS v)),
        |f AS (
        |  SELECT l_suppkey AS s_suppkey, l_orderkey % 300 AS pt, l_quantity
        |  FROM lineitem)
        |SELECT version, count(*) AS n_facts,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(acct) / 1000000, 4) AS acct_msum
        |FROM f JOIN dim ON f.s_suppkey = dim.s_suppkey
        |  AND f.pt >= dim.valid_from AND f.pt <= dim.valid_to
        |GROUP BY version ORDER BY version""".stripMargin) { (s, d) =>
      val dim = t(s, d, "supplier")
        // long sequence: DuckDB generate_series yields int64, and the
        // group key surfaces in the output — int32 here is a latent
        // hash divergence (r13 exact-arrow-type sweep)
        .select(col("s_suppkey"), explode(sequence(lit(0L), lit(2L))).as("version"),
          col("s_acctbal"))
        .select(col("s_suppkey"), col("version"),
          (col("version") * 100).as("valid_from"),
          (col("version") * 100 + 99).as("valid_to"),
          round(col("s_acctbal") + col("version") * 1000, 2).as("acct"))
      val facts = t(s, d, "lineitem")
        .select(col("l_suppkey").as("s_suppkey"),
          (col("l_orderkey") % 300).as("pt"), col("l_quantity"))
      RangeJoin.pointInInterval(facts, dim, "pt", "valid_from", "valid_to",
          bucketWidth = 100, extraKeys = Seq("s_suppkey"))
        .groupBy("version")
        .agg(count(lit(1)).as("n_facts"),
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("acct") / 1000000, 4).as("acct_msum"))
        .orderBy("version")
    },

    Q("q126_cross_source_leakage",
      // Train/test LEAKAGE accounting: how many near-duplicate pairs
      // cross each (source, source) boundary — the metric that decides
      // whether a split is contaminated before training. Reuses the q34
      // MinHash-LSH pair pipeline (banded candidates, no all-pairs scan),
      // then one broadcast-joinable label lookup per side and a count per
      // unordered source pair.
      s"""WITH ${ExtendedQueries.minhashCtes},
         |p AS (
         |  SELECT i.id1, i.id2 FROM inter i
         |  JOIN sizes z1 ON z1.doc_id = i.id1
         |  JOIN sizes z2 ON z2.doc_id = i.id2
         |  WHERE i.i::DOUBLE / (z1.sz + z2.sz - i.i) >= 0.5),
         |lab AS (SELECT doc_id, source FROM documents)
         |SELECT least(a.source, b.source) AS src_a,
         |  greatest(a.source, b.source) AS src_b,
         |  count(*) AS n_pairs,
         |  count(CASE WHEN a.source <> b.source THEN 1 END) > 0 AS crosses
         |FROM p JOIN lab a ON a.doc_id = p.id1 JOIN lab b ON b.doc_id = p.id2
         |GROUP BY 1, 2 ORDER BY src_a, src_b""".stripMargin) { (s, d) =>
      val docs = t(s, d, "documents")
      val pairs = Dedup.nearDupPairsMinHash(docs, "doc_id", "text",
          shingleK = 3, numHashes = 12, rowsPerBand = 4, threshold = 0.5)
        .select("id1", "id2")
      // the PAIR stream (O(duplicates)) is the small side — broadcast it
      // through two label-lookup passes; the per-doc label table streams
      // (it is corpus-sized and must never be broadcast or re-shuffled)
      val lab = docs.select(col("doc_id"), col("source"))
      val withA = lab.select(col("doc_id").as("id1"), col("source").as("__sa"))
        .join(broadcast(pairs), "id1")
      val withB = lab.select(col("doc_id").as("id2"), col("source").as("__sb"))
        .join(broadcast(withA), "id2")
      withB
        .groupBy(least(col("__sa"), col("__sb")).as("src_a"),
          greatest(col("__sa"), col("__sb")).as("src_b"))
        .agg(count(lit(1)).as("n_pairs"),
          (count(when(col("__sa") =!= col("__sb"), 1)) > 0).as("crosses"))
        .orderBy("src_a", "src_b")
    },

    Q("q127_png_decode",
      // REAL codec-format decode, oracle-checked: per document the engine
      // builds a genuine PNG (zlib-DEFLATEd scanlines, rotating filter
      // types so all five unfilters run, real CRCs) and parses it back —
      // chunk walk, bounded inflate, unfiltering. The oracle predicts the
      // decoded stats from the pixel-generation formula alone, so ANY
      // codec bug (inflate, filter reconstruction, channel order) breaks
      // the hash. Same output contract as q44's BMP path.
      """WITH dims AS (
        |  SELECT doc_id, 8 + doc_id % 11 AS w, 8 + doc_id % 5 AS h FROM documents),
        |px AS (
        |  SELECT doc_id, w, h, unnest(generate_series(0, w * h - 1)) AS i FROM dims)
        |SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |  CAST(w * h AS BIGINT) AS n_pixels,
        |  round(avg((3 * doc_id + 7 * i) % 256), 6) AS mean_r,
        |  round(avg((2 * doc_id + 5 * i) % 256), 6) AS mean_g,
        |  round(avg((doc_id + 3 * i) % 256), 6) AS mean_b,
        |  CAST(sum(i * ((3 * doc_id + 7 * i) % 256)) AS BIGINT) AS weighted_r
        |FROM px GROUP BY doc_id, w, h ORDER BY doc_id""".stripMargin) { (s, d) =>
      Multimodal.decodePngFeatures(
          Multimodal.syntheticPngs(t(s, d, "documents").select("doc_id"), s), s)
        .select(col("doc_id"), col("width"), col("height"), col("n_pixels"),
          round(col("mean_r"), 6).as("mean_r"),
          round(col("mean_g"), 6).as("mean_g"),
          round(col("mean_b"), 6).as("mean_b"),
          col("weighted_r"))
        .orderBy("doc_id")
    },

    Q("q133_jpeg_decode",
      // REAL baseline-JPEG decode (full Huffman + dequant + IDCT — see
      // operators.Jpeg), oracle-checked like q127: the engine encodes a
      // genuine JPEG per document (Annex K Huffman tables, all-ones
      // quantization, constant 8×8 blocks = DC-only = integer-exact
      // round-trip) and decodes it back through the general entropy/DCT
      // machinery. The oracle predicts the decoded stats from the block
      // formula alone; any Huffman/zigzag/IDCT/predictor bug breaks the
      // hash. Non-constant blocks (the AC path) are spec-checked
      // separately within ±1 (MultimodalSpec).
      """WITH dims AS (
        |  SELECT doc_id, 8 * (1 + doc_id % 5) AS w, 8 * (1 + doc_id % 3) AS h
        |  FROM documents),
        |px AS (
        |  SELECT doc_id, w, h, unnest(generate_series(0, w * h - 1)) AS i FROM dims),
        |pv AS (
        |  SELECT doc_id, w, h, i,
        |    (5 * doc_id + 11 * (((i // w) // 8) * (w // 8) + (i % w) // 8)) % 256 AS v
        |  FROM px)
        |SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |  CAST(w * h AS BIGINT) AS n_pixels,
        |  round(avg(v), 6) AS mean_r, round(avg(v), 6) AS mean_g,
        |  round(avg(v), 6) AS mean_b,
        |  CAST(sum(i * v) AS BIGINT) AS weighted_r
        |FROM pv GROUP BY doc_id, w, h ORDER BY doc_id""".stripMargin) { (s, d) =>
      Multimodal.decodeJpegFeatures(
          Multimodal.syntheticJpegs(t(s, d, "documents").select("doc_id"), s), s)
        .select(col("doc_id"), col("width"), col("height"), col("n_pixels"),
          round(col("mean_r"), 6).as("mean_r"),
          round(col("mean_g"), 6).as("mean_g"),
          round(col("mean_b"), 6).as("mean_b"),
          col("weighted_r"))
        .orderBy("doc_id")
    },

    Q("q134_mp4_metadata",
      // REAL ISO BMFF container parse (operators.Mp4): the engine builds a
      // genuine minimal MP4 per document (ftyp + moov/mvhd + video trak
      // with tkhd 16.16 dims + hdlr, audio trak on even ids) and walks the
      // box structure back. The oracle predicts every field from the
      // generation formula — any box-sizing/offset/fixed-point bug breaks
      // the hash. Frame decode of compressed video is the one surface that
      // stays behind the documented codec stub.
      """SELECT doc_id,
        |  CAST(1000 + doc_id % 9000 AS BIGINT) AS duration_ms,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 1 END AS INT) AS n_tracks,
        |  CAST(16 * (1 + doc_id % 20) AS INT) AS width,
        |  CAST(16 * (1 + doc_id % 12) AS INT) AS height,
        |  TRUE AS has_video,
        |  doc_id % 2 = 0 AS has_audio,
        |  'isom' AS major_brand
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      Multimodal.decodeMp4Meta(
          Multimodal.syntheticMp4s(t(s, d, "documents").select("doc_id"), s), s)
        .orderBy("doc_id")
    },

    Q("q144_gif_decode",
      // REAL GIF decode (full LZW dictionary machinery — see operators
      // .Gif), oracle-checked like q127/q133: the engine LZW-compresses a
      // genuine GIF89a per document (256-entry formula palette, every
      // third image interlaced) and decodes it back — sub-block bitstream,
      // variable code width, dictionary growth, 4-pass de-interlace. The
      // oracle predicts the decoded stats from the pixel formula alone;
      // any LZW/palette/interlace bug breaks the hash. Width-boundary and
      // 4096-reset stress paths are spec-checked separately
      // (MultimodalSpec).
      """WITH dims AS (
        |  SELECT doc_id, 8 + doc_id % 13 AS w, 8 + doc_id % 6 AS h FROM documents),
        |px AS (
        |  SELECT doc_id, w, h, unnest(generate_series(0, w * h - 1)) AS i FROM dims),
        |pv AS (SELECT doc_id, w, h, i, (5 * doc_id + 7 * i) % 256 AS v FROM px)
        |SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |  CAST(w * h AS BIGINT) AS n_pixels,
        |  round(avg(v), 6) AS mean_r,
        |  round(avg((2 * v) % 256), 6) AS mean_g,
        |  round(avg((3 * v) % 256), 6) AS mean_b,
        |  CAST(sum(i * v) AS BIGINT) AS weighted_r
        |FROM pv GROUP BY doc_id, w, h ORDER BY doc_id""".stripMargin) { (s, d) =>
      Multimodal.decodeGifFeatures(
          Multimodal.syntheticGifs(t(s, d, "documents").select("doc_id"), s), s)
        .select(col("doc_id"), col("width"), col("height"), col("n_pixels"),
          round(col("mean_r"), 6).as("mean_r"),
          round(col("mean_g"), 6).as("mean_g"),
          round(col("mean_b"), 6).as("mean_b"),
          col("weighted_r"))
        .orderBy("doc_id")
    },

    Q("q145_url_canonical_dedup",
      // Canonical-URL dedup — the cheap first pass of web-corpus curation
      // that runs before any content hashing. Four messy spellings of each
      // logical page (case-shifted host + www + default port + trailing
      // slash; tracking params + fragment; index.html + unsorted params)
      // collapse through the codegen'd url_canonicalize expression
      // (functions/UrlFunctions — rule list in its Scaladoc). The oracle
      // predicts the CANONICAL RESULT from the generation formula alone —
      // it never re-implements the canonicalizer, so any rule bug breaks
      // the hash. Narrow projection + one hash agg: scales.
      """WITH c AS (
        |  SELECT doc_id, doc_id // 4 AS g, doc_id % 4 AS v FROM documents),
        |k AS (SELECT doc_id,
        |  'https://site' || (g % 10) || '.example.com/docs/' || g ||
        |    CASE WHEN v = 3 THEN '?a=1&b=2' ELSE '' END AS canonical_url
        |  FROM c)
        |SELECT canonical_url, count(*) AS n_dups, min(doc_id) AS keeper
        |FROM k GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val c = t(s, d, "documents").select(col("doc_id"),
        expr("doc_id div 4").as("g"), (col("doc_id") % 4).as("v"))
      val base = concat(lit("site"), (col("g") % 10).cast("string"),
        lit(".example.com"))
      val messy = when(col("v") === 0,
          concat(lit("https://"), base, lit("/docs/"), col("g").cast("string")))
        .when(col("v") === 1,
          concat(lit("HTTPS://WWW."), upper(base), lit(":443/docs/"),
            col("g").cast("string"), lit("/")))
        .when(col("v") === 2,
          concat(lit("https://"), base, lit("/docs/"), col("g").cast("string"),
            lit("?utm_source=feed&fbclid=abc#frag")))
        .otherwise(
          concat(lit("https://www."), base, lit("/docs/"), col("g").cast("string"),
            lit("/index.html?b=2&a=1&utm_campaign=x")))
      c.select(col("doc_id"), GraftFunctions.urlCanonicalize(messy).as("canonical_url"))
        .groupBy("canonical_url")
        .agg(count(lit(1)).as("n_dups"), min("doc_id").as("keeper"))
        .orderBy("canonical_url")
    },

    Q("q165_text_canonical_dedup",
      // Content canonicalization — the normalization pass before exact
      // content hashing: three messy spellings of each document (raw;
      // upper-cased with doubled spaces and added \t/\n framing; a
      // DECOMPOSED-Unicode suffix "cafe" + COMBINING ACUTE) must land on
      // the same canonical key through the codegen'd text_canonicalize
      // (whitespace collapse → NFC → lowercase). The oracle applies
      // DuckDB's OWN independent primitives (regexp_replace / trim /
      // nfc_normalize / lower) in the same rule order — any divergence
      // in the engine's canonicalizer breaks the hash.
      """WITH m AS (
        |  SELECT doc_id,
        |    CASE CAST(doc_id % 3 AS INT)
        |      WHEN 0 THEN text
        |      WHEN 1 THEN chr(9) || replace(upper(text), ' ', '  ') || chr(10)
        |      ELSE text || '  cafe' || chr(769) END AS messy
        |  FROM documents),
        |c AS (
        |  SELECT doc_id,
        |    lower(nfc_normalize(trim(regexp_replace(messy, '[ \t\n\r\f\x0B]+', ' ', 'g')))) AS canon
        |  FROM m)
        |SELECT doc_id, canon, length(canon) AS canon_len FROM c
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val messy = when(col("doc_id") % 3 === 0, col("text"))
        .when(col("doc_id") % 3 === 1,
          concat(lit("\t"), regexp_replace(upper(col("text")), " ", "  "), lit("\n")))
        // DECOMPOSED form (e + U+0301): the engine's NFC must compose it
        // to match the oracle's nfc_normalize - feeding the composed form
        // would leave the NFC step untested
        .otherwise(concat(col("text"), lit("  cafe\u0301")))
      t(s, d, "documents").select(col("doc_id"),
          GraftFunctions.textCanonicalize(messy).as("canon"))
        .withColumn("canon_len", length(col("canon")).cast("long"))
        .orderBy("doc_id")
    },

    Q("q147_cdc_chunk_dedup",
      // Sub-document dedup over CONTENT-DEFINED chunks (Rabin-style): the
      // primitive that finds repeated spans across EDITED copies, where
      // fixed segmentation (q104) and stride windows (q117) lose
      // alignment after one insertion. The engine computes boundaries
      // with a one-pass rolling hash (codegen CdcBounds); the oracle
      // recomputes every window hash independently by brute force and
      // replays the min-length acceptance as a list fold — any rolling-
      // update or acceptance bug diverges. Only (hash, len) pairs reach
      // the exchange; text never shuffles.
      """WITH pos AS (
        |  SELECT doc_id, text, unnest(generate_series(16, len(text))) AS i
        |  FROM documents WHERE len(text) >= 16),
        |hb AS (
        |  SELECT doc_id, i,
        |    list_reduce(list_transform(generate_series(i - 15, i),
        |      k -> ord(substr(text, k, 1))::BIGINT),
        |      (x, y) -> (x * 31 + y) % 1000000007) AS h
        |  FROM pos),
        |cand AS (
        |  SELECT doc_id, list(i ORDER BY i) AS cands
        |  FROM hb WHERE h % 32 = 0 GROUP BY doc_id),
        |acc AS (
        |  SELECT doc_id,
        |    list_reduce([[0]]::BIGINT[][] || list_transform(cands, c -> [c]),
        |      (a, x) -> CASE WHEN x[1] - a[-1] >= 12
        |        THEN list_append(a, x[1]) ELSE a END) AS accepted
        |  FROM cand),
        |ends AS (
        |  SELECT doc_id, unnest(accepted[2:]) AS e FROM acc
        |  UNION
        |  SELECT doc_id, len(text) AS e FROM documents WHERE len(text) > 0),
        |chunks AS (
        |  SELECT doc_id, e,
        |    coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY e), 0) + 1 AS s
        |  FROM ends),
        |hashed AS (
        |  SELECT c.doc_id, s, e - s + 1 AS len,
        |    list_reduce(list_transform(generate_series(s, e),
        |      k -> ord(substr(d.text, k, 1))::BIGINT),
        |      (x, y) -> (x * 31 + y) % 1000000007) AS chunk_hash
        |  FROM chunks c JOIN documents d USING (doc_id)
        |  WHERE e >= s)
        |SELECT chunk_hash, min(len) AS len, count(*) AS n_occ,
        |  count(DISTINCT doc_id) AS n_docs
        |FROM hashed GROUP BY chunk_hash HAVING count(*) > 1
        |ORDER BY n_occ DESC, chunk_hash LIMIT 20""".stripMargin) { (s, d) =>
      Chunking.contentDefinedChunks(t(s, d, "documents"), "doc_id", "text",
          window = 16, modulus = 32, minLen = 12)
        .groupBy("chunk_hash")
        .agg(min("len").as("len"), count(lit(1)).as("n_occ"),
          countDistinct("doc_id").as("n_docs"))
        .filter(col("n_occ") > 1)
        .orderBy(col("n_occ").desc, col("chunk_hash"))
        .limit(20)
        .select("chunk_hash", "len", "n_occ", "n_docs")
    },

    Q("q150_image_resize",
      // REAL pixel resize (nearest-neighbor, fit-inside-8, never
      // upscale) sampled straight off the BMP bytes — the decode →
      // resize step of a multimodal ingest, with the resize GEOMETRY and
      // SAMPLING both integer-exact so the oracle predicts the resized
      // stats from the pixel formula alone: output (ox, oy) reads source
      // index (oy·h/oh)·w + (ox·w/ow) in pure integer division. Any
      // offset/padding/orientation/rounding bug breaks the hash.
      """WITH dims AS (
        |  SELECT doc_id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h
        |  FROM documents),
        |o AS (
        |  SELECT doc_id, w, h,
        |    CASE WHEN greatest(w, h) <= 8 THEN w
        |      ELSE greatest(1, (w * 8 + greatest(w, h) - 1) // greatest(w, h))
        |    END AS ow,
        |    CASE WHEN greatest(w, h) <= 8 THEN h
        |      ELSE greatest(1, (h * 8 + greatest(w, h) - 1) // greatest(w, h))
        |    END AS oh
        |  FROM dims),
        |px AS (
        |  SELECT doc_id, w, h, ow, oh,
        |    unnest(generate_series(0, ow * oh - 1)) AS i
        |  FROM o),
        |v AS (
        |  SELECT doc_id, ow, oh, i,
        |    ((i // ow) * h // oh) * w + ((i % ow) * w // ow) AS si
        |  FROM px)
        |SELECT doc_id, CAST(ow AS INT) AS width, CAST(oh AS INT) AS height,
        |  CAST(ow * oh AS BIGINT) AS n_pixels,
        |  round(avg((3 * doc_id + 7 * si) % 256), 6) AS mean_r,
        |  round(avg((2 * doc_id + 5 * si) % 256), 6) AS mean_g,
        |  round(avg((doc_id + 3 * si) % 256), 6) AS mean_b,
        |  CAST(sum(i * ((3 * doc_id + 7 * si) % 256)) AS BIGINT) AS weighted_r
        |FROM v GROUP BY doc_id, ow, oh ORDER BY doc_id""".stripMargin) { (s, d) =>
      Multimodal.resizeBmpFeatures(
          Multimodal.syntheticBmps(t(s, d, "documents").select("doc_id"), s),
          maxSide = 8, s)
        .select(col("doc_id"), col("width"), col("height"), col("n_pixels"),
          round(col("mean_r"), 6).as("mean_r"),
          round(col("mean_g"), 6).as("mean_g"),
          round(col("mean_b"), 6).as("mean_b"),
          col("weighted_r"))
        .orderBy("doc_id")
    },

    Q("q151_mp4_frame_sample",
      // REAL video frame sampling: the engine builds framed MP4s (mdat +
      // full stsd/stts/stsc/stsz/stco sample tables) and extracts every
      // 2nd frame's pts, size, and byte sum over its ACTUAL mdat range —
      // purely off the tables, exactly what a demuxer hands a decoder.
      // (q162 then feeds the same demuxed ranges to a REAL pixel decode.)
      // The oracle predicts every field from the generation formula.
      """WITH f AS (SELECT doc_id, 5 + doc_id % 6 AS nf FROM documents),
        |fr AS (SELECT doc_id, nf, unnest(generate_series(0, nf - 1)) AS i
        |  FROM f)
        |SELECT doc_id, CAST(i AS INT) AS frame_idx,
        |  CAST(i * 100 AS BIGINT) AS pts_ms,
        |  CAST(50 + (doc_id + 17 * i) % 100 AS BIGINT) AS size,
        |  CAST((50 + (doc_id + 17 * i) % 100) * ((doc_id + 7 * i) % 256)
        |    AS BIGINT) AS byte_sum
        |FROM fr WHERE i % 2 = 0 ORDER BY doc_id, frame_idx""".stripMargin) { (s, d) =>
      Multimodal.sampleMp4Frames(
          Multimodal.syntheticFramedMp4s(t(s, d, "documents").select("doc_id"), s),
          everyN = 2, s)
        .orderBy("doc_id", "frame_idx")
    },

    Q("q164_progressive_jpeg_dc",
      // REAL progressive-JPEG (SOF2) support: the engine encodes genuine
      // first-scan-only progressive files (spectral-selection DC scan,
      // successive-approximation Al = id mod 2) and decodes them through
      // the SOF2 parse + DC-scan entropy walk into the preview image.
      // Block-constant luma makes the preview EXACT (8·(v−128) is even,
      // so the Al point transform loses nothing) — the oracle predicts
      // every stat from the q133 block formula.
      """WITH dims AS (
        |  SELECT doc_id, 8 * (1 + doc_id % 5) AS w, 8 * (1 + doc_id % 3) AS h
        |  FROM documents),
        |px AS (
        |  SELECT doc_id, w, h, unnest(generate_series(0, w * h - 1)) AS i FROM dims),
        |pv AS (
        |  SELECT doc_id, w, h, i,
        |    (5 * doc_id + 11 * (((i // w) // 8) * (w // 8) + (i % w) // 8)) % 256 AS v
        |  FROM px)
        |SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |  CAST(w * h AS BIGINT) AS n_pixels,
        |  round(avg(v), 6) AS mean_r, round(avg(v), 6) AS mean_g,
        |  round(avg(v), 6) AS mean_b,
        |  CAST(sum(i * v) AS BIGINT) AS weighted_r
        |FROM pv GROUP BY doc_id, w, h ORDER BY doc_id""".stripMargin) { (s, d) =>
      Multimodal.decodeProgressiveJpegFeatures(
          Multimodal.syntheticProgressiveJpegs(t(s, d, "documents").select("doc_id"), s), s)
        .select(col("doc_id"), col("width"), col("height"), col("n_pixels"),
          round(col("mean_r"), 6).as("mean_r"),
          round(col("mean_g"), 6).as("mean_g"),
          round(col("mean_b"), 6).as("mean_b"),
          col("weighted_r"))
        .orderBy("doc_id")
    },

    Q("q162_mjpeg_decode",
      // REAL compressed-video PIXEL decode (MJPEG): the engine builds
      // MJPEG-in-MP4 streams whose mdat frames are complete baseline
      // JPEGs (the q133 DC-only-exact family, per-frame seed
      // id + 13·frame), demuxes every 2nd frame's byte range off the
      // sample tables, and decodes its pixels through the repo's own
      // Huffman+IDCT pipeline — zero external codecs; this closes the
      // last multimodal stub. The oracle predicts every decoded pixel
      // stat from the block formula alone: v = (5·id + 65·fi + 11·blk)
      // mod 256 over constant 8×8 blocks.
      """WITH f AS (
        |  SELECT doc_id,
        |    unnest(generate_series(0, CAST(3 + doc_id % 4 AS BIGINT) - 1, 2)) AS fi
        |  FROM documents),
        |dims AS (
        |  SELECT doc_id, fi, 8 * (1 + doc_id % 5) AS w, 8 * (1 + doc_id % 3) AS h
        |  FROM f),
        |px AS (
        |  SELECT doc_id, fi, w, h, unnest(generate_series(0, w * h - 1)) AS i
        |  FROM dims),
        |pv AS (
        |  SELECT doc_id, fi, w, h, i,
        |    (5 * doc_id + 65 * fi
        |      + 11 * (((i // w) // 8) * (w // 8) + (i % w) // 8)) % 256 AS v
        |  FROM px)
        |SELECT doc_id, CAST(fi AS INT) AS frame_idx,
        |  CAST(fi * 100 AS BIGINT) AS pts_ms,
        |  CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |  CAST(w * h AS BIGINT) AS n_pixels,
        |  round(avg(v), 6) AS mean_r, round(avg(v), 6) AS mean_g,
        |  round(avg(v), 6) AS mean_b,
        |  CAST(sum(i * v) AS BIGINT) AS weighted_r
        |FROM pv GROUP BY doc_id, fi, w, h
        |ORDER BY doc_id, frame_idx""".stripMargin) { (s, d) =>
      Multimodal.decodeMjpegFrames(
          Multimodal.syntheticMjpegs(t(s, d, "documents").select("doc_id"), s),
          everyN = 2, s)
        .select(col("doc_id"), col("frame_idx"), col("pts_ms"),
          col("width"), col("height"), col("n_pixels"),
          round(col("mean_r"), 6).as("mean_r"),
          round(col("mean_g"), 6).as("mean_g"),
          round(col("mean_b"), 6).as("mean_b"),
          col("weighted_r"))
        .orderBy("doc_id", "frame_idx")
    },

    Q("q152_audio_frame_features",
      // REAL windowed audio feature extraction — the feature step of an
      // audio ingest over the PCM16 decode path: per 32-sample frame,
      // RMS energy, zero-crossing count, peak amplitude (partial tail
      // dropped). Exact cross-engine: Σs² is exact integer, /32 is a
      // power-of-2 division, sqrt is IEEE-correctly-rounded, and both
      // sides round via floor(x·1e6 + ½) — the Int8Quant recipe, immune
      // to round() implementation differences.
      """WITH dims AS (SELECT doc_id, 64 + doc_id % 129 AS n FROM documents),
        |sm AS (
        |  SELECT doc_id, n, i, ((13 * doc_id + 31 * i) % 65536) - 32768 AS s
        |  FROM (SELECT doc_id, n, unnest(generate_series(0, n - 1)) AS i
        |        FROM dims)),
        |w AS (
        |  SELECT doc_id, i // 32 AS frame, i, s,
        |    lag(s) OVER (PARTITION BY doc_id, i // 32 ORDER BY i) AS prev
        |  FROM sm WHERE i < (n // 32) * 32)
        |SELECT doc_id, CAST(frame AS INT) AS frame_idx,
        |  floor(sqrt(sum(s * s) / 32.0) * 1000000 + 0.5) / 1000000 AS rms,
        |  CAST(count(CASE WHEN (prev < 0) <> (s < 0) THEN 1 END) AS BIGINT)
        |    AS zcr,
        |  CAST(max(abs(s)) AS BIGINT) AS peak
        |FROM w GROUP BY doc_id, frame
        |ORDER BY doc_id, frame_idx""".stripMargin) { (s, d) =>
      Multimodal.wavFrameFeatures(
          Multimodal.syntheticWavs(t(s, d, "documents").select("doc_id"), s),
          windowSize = 32, s)
        .orderBy("doc_id", "frame_idx")
    },

    Q("q153_gif_animation_meta",
      // Animated-GIF metadata over the full block walk (frames counted
      // past the first image, GCE centisecond delays summed to ms,
      // NETSCAPE 2.0 loop count) — the animation-handling pass a
      // web-crawl corpus needs before any frame decode. Fixture GIFs are
      // real multi-frame LZW streams; the oracle predicts every field
      // from the generation formula.
      """WITH f AS (SELECT doc_id, 2 + doc_id % 4 AS nf FROM documents),
        |d AS (SELECT doc_id, nf, unnest(generate_series(0, nf - 1)) AS fr
        |  FROM f)
        |SELECT doc_id, 4 AS width, 4 AS height, CAST(nf AS INT) AS n_frames,
        |  CAST(sum(10 * (5 + (doc_id + fr) % 10)) AS BIGINT) AS duration_ms,
        |  CAST(doc_id % 3 AS BIGINT) AS n_loops
        |FROM d GROUP BY doc_id, nf ORDER BY doc_id""".stripMargin) { (s, d) =>
      Multimodal.decodeGifAnimMeta(
          Multimodal.syntheticAnimGifs(t(s, d, "documents").select("doc_id"), s), s)
        .orderBy("doc_id")
    },

    Q("q155_png_color_types",
      // PNG decode across the whole-byte color layouts a crawl actually
      // carries: grayscale (1-byte stride), RGB (3), RGBA (4 — alpha
      // rides through the unfilter but is excluded from channel stats).
      // One fixture family cycles the type with doc_id; the oracle
      // predicts stats per type from the pixel formula, so any stride or
      // channel-order bug in ANY layout breaks the hash.
      """WITH dims AS (
        |  SELECT doc_id, 8 + doc_id % 11 AS w, 8 + doc_id % 5 AS h,
        |    CASE doc_id % 3 WHEN 0 THEN 0 WHEN 1 THEN 2 ELSE 6 END AS ct
        |  FROM documents),
        |px AS (
        |  SELECT doc_id, w, h, ct, unnest(generate_series(0, w * h - 1)) AS i
        |  FROM dims)
        |SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |  CAST(w * h AS BIGINT) AS n_pixels,
        |  round(avg((3 * doc_id + 7 * i) % 256), 6) AS mean_r,
        |  round(avg(CASE WHEN ct = 0 THEN (3 * doc_id + 7 * i) % 256
        |    ELSE (2 * doc_id + 5 * i) % 256 END), 6) AS mean_g,
        |  round(avg(CASE WHEN ct = 0 THEN (3 * doc_id + 7 * i) % 256
        |    ELSE (doc_id + 3 * i) % 256 END), 6) AS mean_b,
        |  CAST(sum(i * ((3 * doc_id + 7 * i) % 256)) AS BIGINT) AS weighted_r
        |FROM px GROUP BY doc_id, w, h, ct ORDER BY doc_id""".stripMargin) { (s, d) =>
      Multimodal.decodePngFeatures(
          Multimodal.syntheticPngsTyped(t(s, d, "documents").select("doc_id"), s), s)
        .select(col("doc_id"), col("width"), col("height"), col("n_pixels"),
          round(col("mean_r"), 6).as("mean_r"),
          round(col("mean_g"), 6).as("mean_g"),
          round(col("mean_b"), 6).as("mean_b"),
          col("weighted_r"))
        .orderBy("doc_id")
    },

    Q("q156_jpeg420_decode",
      // REAL 4:2:0 JPEG decode — the chroma-subsampled layout nearly
      // every camera/web JPEG uses: 4 luma blocks + Cb + Cr per MCU,
      // per-component predictors, NN chroma upsampling. The fixture is
      // DC-only (block-constant luma, image-constant chroma → the box
      // subsample is lossless), so YCbCr reconstruction is integer-exact
      // and the oracle replays the JFIF float conversion on the exact
      // integers; any MCU-interleave/upsample/predictor bug breaks the
      // hash. Lossy general content is spec-checked within a budget
      // (MultimodalSpec).
      """WITH dims AS (
        |  SELECT doc_id, 16 * (1 + doc_id % 4) AS w, 16 * (1 + doc_id % 3) AS h
        |  FROM documents),
        |px AS (
        |  SELECT doc_id, w, h, unnest(generate_series(0, w * h - 1)) AS i
        |  FROM dims),
        |v AS (
        |  SELECT doc_id, w, h, i,
        |    (5 * doc_id + 11 * (((i // w) // 8) * (w // 8) + (i % w) // 8)) % 256
        |      AS yv,
        |    (doc_id % 21) - 10 AS cbd, (doc_id % 17) - 8 AS crd
        |  FROM px),
        |rgb AS (
        |  SELECT doc_id, w, h, i,
        |    least(255, greatest(0, CAST(round(yv + 1.402 * crd) AS INT))) AS r,
        |    least(255, greatest(0,
        |      CAST(round(yv - 0.344136 * cbd - 0.714136 * crd) AS INT))) AS g,
        |    least(255, greatest(0, CAST(round(yv + 1.772 * cbd) AS INT))) AS b
        |  FROM v)
        |SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |  CAST(w * h AS BIGINT) AS n_pixels,
        |  round(avg(r), 6) AS mean_r, round(avg(g), 6) AS mean_g,
        |  round(avg(b), 6) AS mean_b,
        |  CAST(sum(i * r) AS BIGINT) AS weighted_r
        |FROM rgb GROUP BY doc_id, w, h ORDER BY doc_id""".stripMargin) { (s, d) =>
      Multimodal.decodeJpegFeatures(
          Multimodal.syntheticJpegs420(t(s, d, "documents").select("doc_id"), s), s)
        .select(col("doc_id"), col("width"), col("height"), col("n_pixels"),
          round(col("mean_r"), 6).as("mean_r"),
          round(col("mean_g"), 6).as("mean_g"),
          round(col("mean_b"), 6).as("mean_b"),
          col("weighted_r"))
        .orderBy("doc_id")
    },

    Q("q130_data_quality",
      // Declarative DQ expectations (deequ-style) over orders+lineitem:
      // the four scalar rules fold into ONE aggregation pass; uniqueness
      // and referential integrity are the two irreducible extra shuffles.
      // Two rules are deliberately strict enough to FAIL (price cap
      // 400k < max 499k; status set missing 'P'), so the report carries
      // real violation counts, not a wall of zeros.
      """WITH r AS (
        |  SELECT 'not_null(o_orderkey)' AS rule,
        |    (SELECT count(*) FROM orders WHERE o_orderkey IS NULL)
        |      AS n_violations
        |  UNION ALL SELECT 'in_range(o_totalprice, 0.0, 400000.0)',
        |    (SELECT count(*) FROM orders WHERE o_totalprice IS NOT NULL
        |       AND (o_totalprice < 0 OR o_totalprice > 400000))
        |  UNION ALL SELECT 'accepted_values(o_orderstatus)',
        |    (SELECT count(*) FROM orders WHERE o_orderstatus IS NOT NULL
        |       AND o_orderstatus NOT IN ('O', 'F'))
        |  UNION ALL SELECT 'matches(o_orderpriority)',
        |    (SELECT count(*) FROM orders WHERE o_orderpriority IS NOT NULL
        |       AND NOT regexp_full_match(o_orderpriority, '[1-5]-[A-Z ]+'))
        |  UNION ALL SELECT 'unique(o_orderkey)',
        |    (SELECT coalesce(sum(n - 1), 0)::BIGINT FROM (
        |       SELECT count(*) AS n FROM orders
        |       WHERE o_orderkey IS NOT NULL GROUP BY o_orderkey))
        |  UNION ALL SELECT 'ref_integrity(l_orderkey)',
        |    (SELECT count(*) FROM lineitem WHERE l_orderkey IS NOT NULL
        |       AND l_orderkey NOT IN (SELECT o_orderkey FROM orders)))
        |SELECT rule, n_violations, n_violations = 0 AS pass FROM r
        |ORDER BY rule""".stripMargin) { (s, d) =>
      Quality.check(t(s, d, "orders"), Seq(
          Quality.Rule.NotNull("o_orderkey"),
          Quality.Rule.InRange("o_totalprice", 0.0, 400000.0),
          Quality.Rule.AcceptedValues("o_orderstatus", Seq("O", "F")),
          Quality.Rule.Matches("o_orderpriority", "[1-5]-[A-Z ]+"),
          Quality.Rule.Unique("o_orderkey")))
        .unionAll(Quality.check(t(s, d, "lineitem"), Seq(
          Quality.Rule.RefIntegrity("l_orderkey", t(s, d, "orders"), "o_orderkey"))))
        .orderBy("rule")
    },

    Q("q107_train_val_test_split",
      // deterministic 80/10/10 train/val/test split: membership is a pure
      // function of the row key (hash60 mod 10), so the split is
      // reproducible across engines/runs/partitionings, disjoint and
      // exhaustive by construction — no shuffle, just a scan + aggregate.
      s"""WITH b AS (
         |  SELECT *, ${sqlHash60("doc_id::VARCHAR")} % 10 AS __b FROM documents)
         |SELECT CASE WHEN __b < 8 THEN 'train' WHEN __b = 8 THEN 'val'
         |    ELSE 'test' END AS split,
         |  count(*) AS n_docs, min(doc_id) AS first_id, max(doc_id) AS last_id,
         |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
         |  count(DISTINCT lang) AS n_langs
         |FROM b GROUP BY 1 ORDER BY split""".stripMargin) { (s, d) =>
      t(s, d, "documents")
        .withColumn("__b", Dedup.hash60(col("doc_id").cast("string")) % 10)
        .withColumn("split",
          when(col("__b") < 8, "train").when(col("__b") === 8, "val")
            .otherwise("test"))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"), min("doc_id").as("first_id"),
          max("doc_id").as("last_id"),
          sum("n_chars").cast("long").as("total_chars"),
          countDistinct("lang").as("n_langs"))
        .orderBy("split")
    },

    Q("q206_hybrid_rrf",
      // HYBRID retrieval: document-as-query BM25 (each doc_id % 50 = 0 doc
      // queries the corpus with its own tokens, stopword-elided at df >
      // 50%·N) fused with dense brute-force cosine over the same id space
      // by reciprocal-rank fusion (1/(60+rank), two coalesced terms in
      // fixed run order). Both runs are top-20 cut BEFORE the fuse, so the
      // fusion join touches ≤40 rows/query at any corpus size; the oracle
      // replays every stage — seeded term-order fold, rounded-score
      // lexical rank, raw-cosine dense rank, exact rrf re-rank.
      Ranking.hybridRrfSql(queryMod = 50)) { (s, d) =>
      val emb = t(s, d, "embeddings")
      val lex = Ranking.bm25QueryDocTopK(t(s, d, "documents"), "doc_id", "text",
        queryPred = col("doc_id") % 50 === 0)
      val dense = graft.operators.SimilaritySearch
        .bruteForceTopK(emb, emb.filter(col("vec_id") % 50 === 0),
          "vec_id", "embedding", k = 20)
        .withColumnRenamed("neighbor_id", "doc_id")
      Ranking.rrfFuse(lex, dense).orderBy("query_id", "rank")
    },

    Q("q207_dsir_select",
      // DSIR importance-resampling selection (Xie et al. 2023): rank the
      // non-src0 pool by hashed-ngram log-likelihood ratio against the
      // src0 target distribution (128 buckets, add-0.01 smoothing),
      // deterministic top-25 variant. The oracle replays hashing,
      // smoothing, the bucket-ordered fold and the rounded-weight rank.
      Curation.dsirSql(targetSource = "src0")) { (s, d) =>
      Curation.dsirSelect(t(s, d, "documents"), "doc_id", "text",
        targetPred = col("source") === "src0")
    },

    Q("q208_txtable_merge",
      // conditional MERGE INTO end to end: orders bootstraps a TxTable
      // (partitioned by status) via an all-insert merge, then ONE merge
      // commit updates every key ≡0 mod 3 (val += source key), deletes the
      // ≡0 mod 9 subset, and inserts synthetic keys — the oracle is the
      // closed form of that final state over the raw table. All-integer
      // values keep the compare exact; time travel / audit across the
      // commit is TxTableMergeSpec's job.
      """WITH kept AS (
        |  SELECT o_orderstatus,
        |    CASE WHEN o_orderkey % 3 = 0 THEN o_custkey + o_orderkey
        |         ELSE o_custkey END AS val
        |  FROM orders
        |  WHERE NOT (o_orderkey % 3 = 0 AND o_orderkey % 9 = 0)),
        |ins AS (
        |  SELECT o_orderstatus, 7::BIGINT AS val FROM orders
        |  WHERE o_orderkey % 10 = 1),
        |allr AS (SELECT * FROM kept UNION ALL SELECT * FROM ins)
        |SELECT o_orderstatus, count(*)::BIGINT AS n_rows,
        |  CAST(sum(val) AS BIGINT) AS sum_val
        |FROM allr GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) { (s, d) =>
      import graft.streaming.TxTable
      val table = Q.scratchDir("graft-q208") + "/orders_tx"
      val ks = Seq("o_orderstatus", "o_orderkey")
      val orders = t(s, d, "orders").select(
        col("o_orderstatus"), col("o_orderkey"), col("o_custkey").as("val"))
      TxTable.mergeInto(s, orders, table,
        partitionCol = "o_orderstatus", keys = ks)
      val srcUpd = orders.filter(col("o_orderkey") % 3 === 0)
        .withColumn("val", lit(0L))
      val srcIns = orders.filter(col("o_orderkey") % 10 === 1)
        .select(col("o_orderstatus"),
          (col("o_orderkey") + 100000000L).as("o_orderkey"),
          lit(7L).as("val"))
      TxTable.mergeInto(s, srcUpd.unionByName(srcIns), table,
        partitionCol = "o_orderstatus", keys = ks,
        updateExprs = Map("val" -> (col("t.val") + col("s.o_orderkey"))),
        deleteCondition = Some(col("s.o_orderkey") % 9 === 0))
      TxTable.read(s, table).get
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_rows"), sum(col("val")).as("sum_val"))
        .orderBy("o_orderstatus")
    },

    Q("q209_embedding_psi",
      // per-dimension Population Stability Index between the even- and
      // odd-vec_id snapshot halves — the embedding-distribution drift
      // monitor of a vector pipeline. 8 equal-width bins over [-1,1]
      // (add-0.5 smoothed, both-empty bins excluded), bin-ordered seeded
      // fold, PSI rounded to 6 dp, drift flag at the conventional 0.2.
      """WITH px AS (
        |  SELECT vec_id % 2 = 0 AS ref, i - 1 AS dim, embedding[i]::DOUBLE AS v
        |  FROM (SELECT vec_id, embedding,
        |          unnest(generate_series(1, len(embedding))) AS i
        |        FROM embeddings)),
        |binned AS (
        |  SELECT ref, dim,
        |    CAST(least(greatest(floor((v - (-1.0)) / 0.25), 0.0), 7.0) AS INT)
        |      AS bin
        |  FROM px),
        |grid AS (
        |  SELECT dim, bin,
        |    sum(CASE WHEN ref THEN 1 ELSE 0 END)::BIGINT AS cr,
        |    sum(CASE WHEN NOT ref THEN 1 ELSE 0 END)::BIGINT AS cc
        |  FROM binned GROUP BY dim, bin),
        |tot AS (SELECT dim, sum(cr) AS nr, sum(cc) AS nc FROM grid GROUP BY dim),
        |terms AS (
        |  SELECT g.dim, g.bin, t.nr, t.nc,
        |    ((g.cr + 0.5) / (t.nr + 4.0) - (g.cc + 0.5) / (t.nc + 4.0)) *
        |      ln(((g.cr + 0.5) / (t.nr + 4.0)) / ((g.cc + 0.5) / (t.nc + 4.0)))
        |      AS tm
        |  FROM grid g JOIN tot t USING (dim))
        |SELECT dim, CAST(max(nr) AS BIGINT) AS n_ref,
        |  CAST(max(nc) AS BIGINT) AS n_cur,
        |  round(list_reduce(list(tm ORDER BY bin), (a, x) -> a + x), 6) AS psi,
        |  round(list_reduce(list(tm ORDER BY bin), (a, x) -> a + x), 6) > 0.2
        |    AS drifted
        |FROM terms GROUP BY dim ORDER BY dim""".stripMargin) { (s, d) =>
      Profiling.psiDrift(t(s, d, "embeddings"), "embedding",
        refPred = col("vec_id") % 2 === 0)
    },

    Q("q211_perplexity_buckets",
      // CCNet head/middle/tail bucketing (Wenzek et al. 2020): the q105
      // corpus-trained bigram-LM score splits each language into exact
      // score terciles (ntile over the rounded-score + doc_id total
      // order); sub-2-token docs are unscorable and drop, as in CCNet.
      // Bucket aggregates are count/sum-of-long/min/max only — no float
      // sum over a variable row set.
      """WITH w AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |bi AS (
        |  SELECT doc_id, toks[__i] AS w1, toks[__i + 1] AS w2
        |  FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS __i
        |        FROM w WHERE len(toks) >= 2)),
        |c12 AS (SELECT w1, w2, count(*)::DOUBLE AS __c12 FROM bi GROUP BY w1, w2),
        |c1 AS (SELECT w1, count(*)::DOUBLE AS __c1 FROM bi GROUP BY w1),
        |sc AS (
        |  SELECT doc_id, round(avg(ln(__c12 / __c1)), 6) AS avg_logp
        |  FROM bi JOIN c12 USING (w1, w2) JOIN c1 USING (w1) GROUP BY doc_id),
        |rk AS (
        |  SELECT d.lang, d.n_chars, s.avg_logp,
        |    ntile(3) OVER (PARTITION BY d.lang
        |      ORDER BY s.avg_logp DESC, d.doc_id) AS tile
        |  FROM sc s JOIN documents d USING (doc_id))
        |SELECT lang,
        |  CASE tile WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END
        |    AS bucket,
        |  count(*)::BIGINT AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_mass,
        |  min(avg_logp) AS min_score, max(avg_logp) AS max_score
        |FROM rk GROUP BY lang, tile ORDER BY lang, bucket""".stripMargin) { (s, d) =>
      LangModel.perplexityBuckets(t(s, d, "documents"),
        "doc_id", "text", "lang", "n_chars")
    },

    Q("q212_maxsim_topk",
      // ColBERT-style late interaction: the 64-dim embedding read as 8
      // token-sub-vectors of 8 dims; score(q,d) = Σ_i max_j cos(q_i,d_j)
      // (native codegen'd max_sim expression; fixed-order sum, zero-norm
      // pairs contribute 0). The oracle replays the same arithmetic with
      // nested list lambdas; ranking is over the ROUNDED score, id
      // tiebreak, top 5 per query.
      """WITH q AS (SELECT vec_id AS query_id, embedding FROM embeddings
        |           WHERE vec_id % 50 = 0),
        |scored AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id,
        |    round(list_reduce(
        |      list_transform(generate_series(1, 8), i ->
        |        list_max(list_transform(generate_series(1, 8), j ->
        |          coalesce(list_cosine_similarity(
        |            (q.embedding[(i-1)*8+1 : i*8])::DOUBLE[],
        |            (e.embedding[(j-1)*8+1 : j*8])::DOUBLE[]), 0.0)))),
        |      (a, x) -> a + x), 6) AS cosine
        |  FROM q JOIN embeddings e ON e.vec_id <> q.query_id)
        |SELECT query_id, CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank,
        |  neighbor_id, cosine
        |FROM scored QUALIFY rank <= 5 ORDER BY query_id, rank""".stripMargin) { (s, d) =>
      val emb = t(s, d, "embeddings")
      graft.operators.SimilaritySearch.maxSimTopK(
          emb, emb.filter(col("vec_id") % 50 === 0), "vec_id", "embedding",
          subDim = 8, k = 5)
        .orderBy("query_id", "rank")
    },

    Q("q213_binary_hamming_topk",
      // binary-quantized ANN: sign bits packed into two 32-bit words,
      // Hamming-distance shortlist (top-16, codegen'd xor+popcount on the
      // pair stream), exact-cosine rerank to top-5. Deterministic end to
      // end, so the oracle replays quantize → Hamming → cut → rerank
      // exactly; recall floors vs brute force live in the spec.
      """WITH bits AS (
        |  SELECT vec_id,
        |    list_reduce(list_transform(generate_series(1, 32), i ->
        |      CASE WHEN embedding[i] > 0 THEN (1::BIGINT << (i - 1))
        |           ELSE 0::BIGINT END), (a, x) -> a | x) AS lo,
        |    list_reduce(list_transform(generate_series(33, 64), i ->
        |      CASE WHEN embedding[i] > 0 THEN (1::BIGINT << (i - 33))
        |           ELSE 0::BIGINT END), (a, x) -> a | x) AS hi
        |  FROM embeddings),
        |qb AS (SELECT vec_id AS query_id, lo, hi FROM bits WHERE vec_id % 50 = 0),
        |ham AS (
        |  SELECT qb.query_id, b.vec_id AS neighbor_id,
        |    bit_count(xor(qb.lo, b.lo)) + bit_count(xor(qb.hi, b.hi)) AS h
        |  FROM qb JOIN bits b ON b.vec_id <> qb.query_id),
        |short AS (
        |  SELECT query_id, neighbor_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY h, neighbor_id)
        |      AS sr
        |  FROM ham QUALIFY sr <= 16),
        |rer AS (
        |  SELECT s.query_id, s.neighbor_id,
        |    list_cosine_similarity(q.embedding::DOUBLE[], e.embedding::DOUBLE[])
        |      AS cosine
        |  FROM short s JOIN embeddings q ON q.vec_id = s.query_id
        |    JOIN embeddings e ON e.vec_id = s.neighbor_id)
        |SELECT query_id, CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank,
        |  neighbor_id, round(cosine, 6) AS cosine
        |FROM rer QUALIFY rank <= 5 ORDER BY query_id, rank""".stripMargin) { (s, d) =>
      val emb = t(s, d, "embeddings")
      graft.operators.SimilaritySearch.binaryHammingTopK(
          emb, emb.filter(col("vec_id") % 50 === 0), "vec_id", "embedding",
          dims = 64, shortlist = 16, k = 5)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy("query_id", "rank")
    },

    Q("q214_cdf_stream",
      // the ACID table consumed AS A STREAM (TxTableCdfSource): three
      // commits land on a scratch TxTable (base inserts → upsert batch →
      // keyed delete), then a txtable-cdf readStream drains the table's
      // whole change feed (Trigger.AvailableNow → parquet sink) and the
      // result aggregates the streamed CDF rows per (commit, change
      // type). The ENGINE only ever sees per-commit diffs through the
      // streaming source; the ORACLE replays the upsert/delete algebra
      // relationally from the raw orders table — agreement means the
      // stream delivered every commit's delta exactly once, with exact
      // payloads (DECIMAL sums keep the compare order-insensitive).
      """WITH s0 AS (
        |  SELECT o_orderkey AS k, CAST(o_totalprice AS DECIMAL(18,2)) AS p
        |  FROM orders WHERE o_orderkey % 9 = 0),
        |c1 AS (
        |  SELECT o_orderkey AS k,
        |    CAST(round(o_totalprice + 1, 2) AS DECIMAL(18,2)) AS p
        |  FROM orders WHERE o_orderkey % 15 = 0),
        |v0 AS (SELECT 0 AS v, 'insert' AS ct, k, p FROM s0),
        |v1 AS (
        |  SELECT 1, 'update_preimage', s0.k, s0.p
        |  FROM s0 JOIN c1 ON s0.k = c1.k
        |  UNION ALL
        |  SELECT 1, 'update_postimage', c1.k, c1.p
        |  FROM s0 JOIN c1 ON s0.k = c1.k
        |  UNION ALL
        |  SELECT 1, 'insert', c1.k, c1.p
        |  FROM c1 WHERE c1.k NOT IN (SELECT k FROM s0)),
        |s1 AS (
        |  SELECT coalesce(c1.k, s0.k) AS k, coalesce(c1.p, s0.p) AS p
        |  FROM s0 FULL JOIN c1 ON s0.k = c1.k),
        |v2 AS (SELECT 2, 'delete', k, p FROM s1 WHERE k % 21 = 0),
        |cdf AS (
        |  SELECT * FROM v0 UNION ALL SELECT * FROM v1
        |  UNION ALL SELECT * FROM v2)
        |SELECT CAST(v AS BIGINT) AS commit_version, ct AS change_type,
        |  count(*)::BIGINT AS n_rows, CAST(sum(k) AS BIGINT) AS sum_key,
        |  CAST(CAST(sum(p) AS DECIMAL(18,2)) AS DOUBLE) AS sum_p
        |FROM cdf GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      import graft.streaming.TxTable
      val root = Q.scratchDir("graft-q214")
      val table = root + "/tbl"; val ckpt = root + "/ckpt"; val out = root + "/out"
      val orders = t(s, d, "orders")
      val keys = Seq("o_orderstatus", "o_orderkey")
      TxTable.mergeLatest(s,
        orders.filter(col("o_orderkey") % 9 === 0)
          .select(col("o_orderstatus"), col("o_orderkey"),
            col("o_totalprice").cast("decimal(18,2)").as("p"), lit(0L).as("seq")),
        table, "o_orderstatus", keys, Seq("seq"))
      TxTable.mergeLatest(s,
        orders.filter(col("o_orderkey") % 15 === 0)
          .select(col("o_orderstatus"), col("o_orderkey"),
            round(col("o_totalprice") + 1, 2).cast("decimal(18,2)").as("p"),
            lit(1L).as("seq")),
        table, "o_orderstatus", keys, Seq("seq"))
      TxTable.deleteKeys(s,
        orders.filter(col("o_orderkey") % 21 === 0 &&
            (col("o_orderkey") % 9 === 0 || col("o_orderkey") % 15 === 0))
          .select("o_orderstatus", "o_orderkey"),
        table, "o_orderstatus", keys)
      val q = s.readStream.format("txtable-cdf")
        .option("path", table).option("keyCol", "o_orderkey")
        .option("keys", "o_orderstatus,o_orderkey").option("order", "seq")
        .option("compareCols", "o_orderstatus,p")
        .load()
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.read.parquet(out)
        .groupBy(col("_commit_version").as("commit_version"), col("change_type"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("o_orderkey")).as("sum_key"),
          // exact decimal sum, ONE terminal double conversion (q89
          // pattern) — raw DECIMAL output columns are banned after the
          // r12 q185/q218 driver-hash lesson
          sum(col("p")).cast("decimal(18,2)").cast("double").as("sum_p"))
        .orderBy("commit_version", "change_type")
    },

    Q("q215_html_extract",
      // HTML → training text (operators/HtmlExtract): each document is
      // wrapped in a deterministic page (title, style+script noise, h1,
      // entity-ESCAPED body, a nav block with two links), and the ENGINE
      // runs the real regex extraction chain — script/style/comment
      // dropping, block→line structure, tag strip, entity decode,
      // whitespace normalization, link metrics. The ORACLE never parses
      // HTML: the page is constructed, so the extraction has a closed
      // form (title line + h1 line + normalized body + anchor line),
      // and md5 equality of the full extracted text proves the chain
      // char-exact — incl. the escape/decode round trip. Link density =
      // anchor chars / text chars, the boilerplate signal.
      """WITH d AS (
        |  SELECT doc_id,
        |    CASE WHEN n = '' THEN '' ELSE n || chr(10) END AS body
        |  FROM (
        |    SELECT doc_id,
        |      regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |        text, '[ \t\r]+', ' ', 'g'), ' ?\n ?', chr(10), 'g'),
        |        '\n{2,}', chr(10), 'g'), '^\s+|\s+$', '', 'g') AS n
        |    FROM documents)),
        |e AS (
        |  SELECT doc_id,
        |    'Doc ' || doc_id || chr(10) || 'Doc ' || doc_id || chr(10)
        |      || body || 'prev next' AS txt
        |  FROM d)
        |SELECT doc_id, 'Doc ' || doc_id AS title,
        |  CAST(length(txt) AS BIGINT) AS n_chars, md5(txt) AS text_md5,
        |  2::BIGINT AS n_links, '/doc/' || (doc_id - 1) AS first_link,
        |  round(8.0 / length(txt), 6) AS link_density
        |FROM e ORDER BY doc_id""".stripMargin) { (s, d) =>
      import graft.operators.HtmlExtract
      val esc = (t: org.apache.spark.sql.Column) =>
        replace(replace(replace(t, lit("&"), lit("&amp;")),
          lit("<"), lit("&lt;")), lit(">"), lit("&gt;"))
      val html = concat(
        lit("<html><head><title>Doc "), col("doc_id"),
        lit("</title><style>body{margin:0}</style>" +
          "<script>if (1<2) { nav(\"x\"); }</script></head><body><h1>Doc "),
        col("doc_id"),
        lit("</h1><p>"), esc(col("text")),
        lit("</p><div class=\"nav\"><a href=\"/doc/"), col("doc_id") - 1,
        lit("\">prev</a> <a href=\"/doc/"), col("doc_id") + 1,
        lit("\">next</a></div></body></html>"))
      t(s, d, "documents")
        .withColumn("html", html)
        .withColumn("txt", HtmlExtract.htmlText(col("html")))
        .select(col("doc_id"),
          HtmlExtract.htmlTitle(col("html")).as("title"),
          length(col("txt")).cast("long").as("n_chars"),
          md5(col("txt")).as("text_md5"),
          size(HtmlExtract.htmlLinks(col("html"))).cast("long").as("n_links"),
          element_at(HtmlExtract.htmlLinks(col("html")), 1).as("first_link"),
          round(HtmlExtract.linkDensity(col("html")), 6).as("link_density"))
        .orderBy("doc_id")
    },

    Q("q216_html_outlinks",
      // extraction → graph composition: pages carry prev/next/hub links
      // (hub = doc_id * 7 % 100 — a skewed popularity law), the engine
      // EXTRACTS hrefs from the markup, parses targets, and aggregates
      // the in-link degree; the oracle derives the same graph from the
      // link-placement formula without ever seeing HTML. The shape of
      // every crawl-graph pass (PageRank seeding, spam-hub detection).
      """WITH l AS (
        |  SELECT doc_id - 1 AS target FROM documents
        |  UNION ALL SELECT doc_id + 1 FROM documents
        |  UNION ALL SELECT (doc_id * 7) % 100 FROM documents)
        |SELECT target, count(*)::BIGINT AS indegree
        |FROM l GROUP BY target
        |HAVING count(*) >= 3 ORDER BY indegree DESC, target""".stripMargin) { (s, d) =>
      import graft.operators.HtmlExtract
      val html = concat(
        lit("<body><p>Doc "), col("doc_id"),
        lit("</p><nav><a href=\"/doc/"), col("doc_id") - 1,
        lit("\">prev</a><a href=\"/doc/"), col("doc_id") + 1,
        lit("\">next</a><a href=\"/doc/"), (col("doc_id") * 7) % 100,
        lit("\">hub</a></nav></body>"))
      t(s, d, "documents")
        .withColumn("link",
          explode(HtmlExtract.htmlLinks(html)))
        .select(regexp_extract(col("link"), "/doc/(-?\\d+)", 1)
          .cast("long").as("target"))
        .groupBy("target")
        .agg(count(lit(1)).as("indegree"))
        .filter(col("indegree") >= 3)
        .orderBy(col("indegree").desc, col("target"))
    },

    Q("q219_warc_pipeline",
      // the crawl CONTAINER step upstream of q215: documents are framed
      // as WARC records (Content-Length in OCTETS of the UTF-8 body),
      // concatenated into per-file containers (doc_id % 37, record order
      // by doc_id), and the ENGINE parses the binary containers back
      // with the sequential Content-Length framing parser — regex
      // boundary detection would be fooled by bodies embedding the
      // record magic. The oracle never parses: every field of every
      // record has a closed form from the assembly recipe, md5(body)
      // pins byte-exact body recovery.
      """WITH b AS (
        |  SELECT doc_id, doc_id % 37 AS file_id,
        |    '<html><body><p>' || text || '</p></body></html>' AS body
        |  FROM documents)
        |SELECT file_id,
        |  CAST(row_number() OVER (PARTITION BY file_id ORDER BY doc_id) - 1
        |    AS INT) AS rec_idx,
        |  'http://corpus.example/doc/' || doc_id AS target_uri,
        |  CAST(octet_length(encode(body)) AS BIGINT) AS content_length,
        |  md5(body) AS body_md5
        |FROM b ORDER BY file_id, rec_idx""".stripMargin) { (s, d) =>
      import graft.operators.Warc
      val body = concat(lit("<html><body><p>"), col("text"),
        lit("</p></body></html>"))
      val rec = concat(
        lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: " +
          "http://corpus.example/doc/"), col("doc_id"),
        lit("\r\nWARC-Date: 2024-06-01T00:00:00Z\r\nContent-Length: "),
        octet_length(col("body")),
        lit("\r\n\r\n"), col("body"), lit("\r\n\r\n"))
      val containers = t(s, d, "documents")
        .withColumn("body", body)
        .withColumn("rec", rec)
        .groupBy((col("doc_id") % 37).as("file_id"))
        .agg(array_join(transform(
          array_sort(collect_list(struct(col("doc_id"), col("rec")))),
          x => x.getField("rec")), "").as("warc"))
        .select(col("file_id"), encode(col("warc"), "utf-8").as("blob"))
      Warc.records(containers, "file_id", "blob")
        .select(col("file_id"), col("rec_idx"), col("target_uri"),
          col("content_length"), md5(col("body")).as("body_md5"))
        .orderBy("file_id", "rec_idx")
    },

    Q("q223_web_rank",
      // the whole crawl-to-rank path in ONE distributed plan: pages are
      // framed into binary WARC containers (q219's recipe), the engine
      // re-parses the containers with the Content-Length framing
      // walker, EXTRACTS each recovered page's hrefs from its markup,
      // resolves them to the q216 link formula's targets, and runs
      // 5-iteration PageRank over the recovered graph. The oracle never
      // touches bytes or HTML — it derives the identical edge list from
      // the link-placement formula and replays the rank arithmetic in
      // chained CTEs (the q109 recipe). At scale every stage is the
      // shape it must be: per-container sequential parse, narrow
      // per-row extraction, distinct-edge shuffle, join+agg per rank
      // iteration with O(1)-deep lineage.
      pageRankSql(iters = 5, damping = 0.85, edgeSql =
        """SELECT doc_id AS src, doc_id - 1 AS dst FROM documents
          |  UNION SELECT doc_id, doc_id + 1 FROM documents
          |  UNION SELECT doc_id, (doc_id * 7) % 100 FROM documents""".stripMargin)) { (s, d) =>
      import graft.operators.{HtmlExtract, PageRank, Warc}
      val body = concat(
        lit("<html><body><p>page</p><nav><a href=\"/doc/"), col("doc_id") - 1,
        lit("\">prev</a><a href=\"/doc/"), col("doc_id") + 1,
        lit("\">next</a><a href=\"/doc/"), (col("doc_id") * 7) % 100,
        lit("\">hub</a></nav></body></html>"))
      val rec = concat(
        lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: " +
          "http://corpus.example/doc/"), col("doc_id"),
        lit("\r\nWARC-Date: 2024-06-01T00:00:00Z\r\nContent-Length: "),
        octet_length(col("body")),
        lit("\r\n\r\n"), col("body"), lit("\r\n\r\n"))
      val containers = t(s, d, "documents")
        .withColumn("body", body)
        .withColumn("rec", rec)
        .groupBy((col("doc_id") % 37).as("file_id"))
        .agg(array_join(transform(
          array_sort(collect_list(struct(col("doc_id"), col("rec")))),
          x => x.getField("rec")), "").as("warc"))
        .select(col("file_id"), encode(col("warc"), "utf-8").as("blob"))
      val edges = Warc.records(containers, "file_id", "blob")
        .select(
          regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1)
            .cast("long").as("src"),
          explode(HtmlExtract.htmlLinks(col("body"))).as("link"))
        .select(col("src"),
          regexp_extract(col("link"), "/doc/(-?\\d+)", 1)
            .cast("long").as("dst"))
        .distinct()
      PageRank.pageRank(edges, iters = 5, damping = 0.85)
        .select(col("id"), round(col("pr"), 6).as("pagerank"))
        .orderBy("id")
    },

    Q("q217_gopher_quality",
      // the Gopher/MassiveText format-rule battery (operators/
      // GopherFilter): word stats as array expressions, duplicate-line
      // stats through ONE explode+fold (never O(lines²)), the composed
      // pass verdict. The oracle replays every signal with DuckDB list
      // functions and the identical rounding — the engine's explode side
      // and the oracle's unnest side must agree on integer counts AND
      // the final 1/0 verdict for all documents.
      """WITH w AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split_regex(trim(text), '\s+'),
        |      x -> x <> '') AS ws,
        |    list_filter(list_transform(string_split_regex(text, '\. '),
        |      s -> trim(s)), s -> s <> '') AS segs
        |  FROM documents),
        |wm AS (
        |  SELECT doc_id, segs, len(ws)::BIGINT AS n_words,
        |    CASE WHEN len(ws) > 0 THEN round(
        |      list_sum(list_transform(ws, x -> length(x)))::DOUBLE
        |        / len(ws), 4) END AS mean_word_len,
        |    CASE WHEN len(ws) > 0 THEN round(
        |      len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]')))::DOUBLE
        |        / len(ws), 6) END AS alpha_frac,
        |    CASE WHEN len(ws) > 0 THEN round(
        |      ((length(text) - length(replace(text, '#', '')))
        |        + (length(text) - length(replace(text, '...', ''))) / 3)::DOUBLE
        |        / len(ws), 6) END AS symbol_ratio,
        |    (list_contains(list_transform(ws, x -> lower(x)), 'the')::BIGINT
        |      + list_contains(list_transform(ws, x -> lower(x)), 'be')::BIGINT
        |      + list_contains(list_transform(ws, x -> lower(x)), 'to')::BIGINT
        |      + list_contains(list_transform(ws, x -> lower(x)), 'of')::BIGINT
        |      + list_contains(list_transform(ws, x -> lower(x)), 'and')::BIGINT
        |      + list_contains(list_transform(ws, x -> lower(x)), 'that')::BIGINT
        |      + list_contains(list_transform(ws, x -> lower(x)), 'have')::BIGINT
        |      + list_contains(list_transform(ws, x -> lower(x)), 'with')::BIGINT
        |      ) AS n_stop,
        |    CASE WHEN len(segs) > 0 THEN round(
        |      len(list_filter(segs, s -> s LIKE '- %' OR s LIKE '* %'
        |        OR s LIKE chr(8226) || '%'))::DOUBLE / len(segs), 6)
        |      END AS bullet_frac,
        |    CASE WHEN len(segs) > 0 THEN round(
        |      len(list_filter(segs, s -> s LIKE '%...'
        |        OR s LIKE '%' || chr(8230)))::DOUBLE / len(segs), 6)
        |      END AS ellipsis_frac
        |  FROM w),
        |pl AS (
        |  SELECT doc_id, line, count(*) AS n, length(line) AS l
        |  FROM (SELECT doc_id, unnest(segs) AS line FROM wm)
        |  GROUP BY doc_id, line),
        |ls AS (
        |  SELECT doc_id, sum(n)::BIGINT AS n_lines,
        |    round(1.0 - count(*)::DOUBLE / sum(n), 6) AS dup_line_frac,
        |    round(CASE WHEN sum(n * l) > 0 THEN
        |      sum(CASE WHEN n > 1 THEN n * l ELSE 0 END)::DOUBLE / sum(n * l)
        |      END, 6) AS dup_line_char_frac
        |  FROM pl GROUP BY doc_id),
        |j AS (
        |  SELECT wm.*, coalesce(ls.n_lines, 0) AS n_lines,
        |    ls.dup_line_frac, ls.dup_line_char_frac
        |  FROM wm LEFT JOIN ls USING (doc_id))
        |SELECT doc_id, n_words, mean_word_len, alpha_frac, symbol_ratio,
        |  n_stop, n_lines, dup_line_frac, dup_line_char_frac,
        |  bullet_frac, ellipsis_frac,
        |  (CASE WHEN n_words BETWEEN 50 AND 100000
        |     AND mean_word_len BETWEEN 3.0 AND 10.0
        |     AND symbol_ratio < 0.1 AND alpha_frac > 0.8 AND n_stop >= 2
        |     AND coalesce(dup_line_frac < 0.3, true)
        |     AND coalesce(dup_line_char_frac < 0.2, true)
        |     AND coalesce(bullet_frac < 0.9, true)
        |     AND coalesce(ellipsis_frac < 0.3, true)
        |   THEN 1 ELSE 0 END)::BIGINT AS pass
        |FROM j ORDER BY doc_id""".stripMargin) { (s, d) =>
      graft.operators.GopherFilter.signals(t(s, d, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    },

    Q("q229_warc_gz",
      // q219's container walk under CommonCrawl's ACTUAL on-disk shape:
      // one RFC 1952 gzip member per record, members concatenated into
      // per-file .warc.gz blobs. The engine hand-walks the member
      // framing (magic/FLG/optional fields), inflates each member via
      // the JDK raw-deflate codec, verifies every member's CRC32+ISIZE
      // trailer against the inflated octets, and runs the SAME
      // Content-Length record parser over the payload. The oracle is
      // q219's closed form — compression must be invisible to the
      // logical records, and md5(body) pins byte-exact recovery
      // THROUGH the deflate round-trip.
      """WITH b AS (
        |  SELECT doc_id, doc_id % 37 AS file_id,
        |    '<html><body><p>' || text || '</p></body></html>' AS body
        |  FROM documents)
        |SELECT file_id,
        |  CAST(row_number() OVER (PARTITION BY file_id ORDER BY doc_id) - 1
        |    AS INT) AS rec_idx,
        |  'http://corpus.example/doc/' || doc_id AS target_uri,
        |  CAST(octet_length(encode(body)) AS BIGINT) AS content_length,
        |  md5(body) AS body_md5
        |FROM b ORDER BY file_id, rec_idx""".stripMargin) { (s, d) =>
      import graft.operators.Warc
      val body = concat(lit("<html><body><p>"), col("text"),
        lit("</p></body></html>"))
      val rec = concat(
        lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: " +
          "http://corpus.example/doc/"), col("doc_id"),
        lit("\r\nWARC-Date: 2024-06-01T00:00:00Z\r\nContent-Length: "),
        octet_length(col("body")),
        lit("\r\n\r\n"), col("body"), lit("\r\n\r\n"))
      val gzCat = udf { recs: Seq[String] =>
        val out = new java.io.ByteArrayOutputStream()
        recs.foreach { r =>
          out.write(Warc.gzipMember(r.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
        }
        out.toByteArray
      }
      val containers = t(s, d, "documents")
        .withColumn("body", body)
        .withColumn("rec", rec)
        .groupBy((col("doc_id") % 37).as("file_id"))
        .agg(gzCat(transform(
          array_sort(collect_list(struct(col("doc_id"), col("rec")))),
          x => x.getField("rec"))).as("blob"))
      Warc.gzRecords(containers, "file_id", "blob")
        .select(col("file_id"), col("rec_idx"), col("target_uri"),
          col("content_length"), md5(col("body")).as("body_md5"))
        .orderBy("file_id", "rec_idx")
    },

    Q("q230_winnow_fingerprints",
      // MOSS winnowing (Schleimer et al., SIGMOD 2003): per document,
      // the rightmost-minimum md5-hash of every w=8 window of k=12
      // char-grams over the normalized text. The engine runs an O(L)
      // monotonic-deque pass per document (NO shuffle to fingerprint
      // the corpus); the oracle replays the definition literally —
      // explode windows, min per window, max(pos) among ties — and the
      // per-doc (count, bit_xor of hashes, sum of positions) must agree
      // exactly: any wrong selection flips the xor.
      """WITH n AS (
        |  SELECT doc_id, regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS s
        |  FROM documents),
        |g0 AS (
        |  SELECT doc_id, s, unnest(generate_series(1, length(s) - 11)) AS p
        |  FROM n WHERE length(s) >= 12),
        |g AS (
        |  SELECT doc_id, p::INT AS p,
        |    ('0x' || substr(md5(substr(s, p::INT, 12)), 1, 15))::BIGINT AS h
        |  FROM g0),
        |mx AS (SELECT doc_id, max(p) AS mp FROM g GROUP BY doc_id),
        |win AS (
        |  SELECT g.doc_id, g.p - o.off AS q, g.p, g.h
        |  FROM g, (SELECT unnest(generate_series(0, 7)) AS off) o
        |  WHERE g.p - o.off >= 1),
        |fw AS (
        |  SELECT w.* FROM win w JOIN mx USING (doc_id) WHERE w.q + 7 <= mx.mp),
        |mn AS (SELECT doc_id, q, min(h) AS mh FROM fw GROUP BY doc_id, q),
        |sel AS (
        |  SELECT f.doc_id, max(f.p) AS p, f.h
        |  FROM fw f JOIN mn ON f.doc_id = mn.doc_id AND f.q = mn.q AND f.h = mn.mh
        |  GROUP BY f.doc_id, f.q, f.h),
        |fp AS (SELECT DISTINCT doc_id, p, h FROM sel)
        |SELECT doc_id, count(*)::BIGINT AS n_fp, bit_xor(h)::BIGINT AS hash_xor,
        |  sum(p)::BIGINT AS pos_sum
        |FROM fp GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      import graft.operators.Winnow
      Winnow.fingerprints(t(s, d, "documents"), "doc_id", "text", k = 12, w = 8)
        .groupBy(col("id").as("doc_id"))
        .agg(count(lit(1)).as("n_fp"),
          expr("bit_xor(hash)").as("hash_xor"),
          sum(col("pos")).cast("long").as("pos_sum"))
        .orderBy("doc_id")
    },

    Q("q231_winnow_matches",
      // the winnowing MATCH step: document pairs sharing >= 2 distinct
      // fingerprints after dropping grams with document frequency > 8
      // (corpus boilerplate is noise to a match detector and an n²
      // skew bomb to the join bucket — MOSS's own drop-too-common
      // rule). The join buckets on the 60-bit hash but verifies the
      // GRAM equal, so the pair set is exact, never
      // collision-polluted. Scale shape: fingerprint narrowly, cap df,
      // equi-join candidates only — all-pairs never appears.
      """WITH n AS (
        |  SELECT doc_id, regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS s
        |  FROM documents),
        |g0 AS (
        |  SELECT doc_id, s, unnest(generate_series(1, length(s) - 11)) AS p
        |  FROM n WHERE length(s) >= 12),
        |g AS (
        |  SELECT doc_id, p::INT AS p, substr(s, p::INT, 12) AS gram,
        |    ('0x' || substr(md5(substr(s, p::INT, 12)), 1, 15))::BIGINT AS h
        |  FROM g0),
        |mx AS (SELECT doc_id, max(p) AS mp FROM g GROUP BY doc_id),
        |win AS (
        |  SELECT g.doc_id, g.p - o.off AS q, g.p, g.h, g.gram
        |  FROM g, (SELECT unnest(generate_series(0, 7)) AS off) o
        |  WHERE g.p - o.off >= 1),
        |fw AS (
        |  SELECT w.* FROM win w JOIN mx USING (doc_id) WHERE w.q + 7 <= mx.mp),
        |mn AS (SELECT doc_id, q, min(h) AS mh FROM fw GROUP BY doc_id, q),
        |sel AS (
        |  SELECT f.doc_id, max(f.p) AS p, f.h, f.gram
        |  FROM fw f JOIN mn ON f.doc_id = mn.doc_id AND f.q = mn.q AND f.h = mn.mh
        |  GROUP BY f.doc_id, f.q, f.h, f.gram),
        |pd AS (SELECT DISTINCT doc_id, h, gram FROM sel),
        |rare AS (
        |  SELECT h, gram FROM pd GROUP BY h, gram
        |  HAVING count(DISTINCT doc_id) <= 8),
        |kept AS (SELECT pd.* FROM pd JOIN rare USING (h, gram))
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  count(DISTINCT a.h)::BIGINT AS n_shared
        |FROM kept a JOIN kept b
        |  ON a.h = b.h AND a.gram = b.gram AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(DISTINCT a.h) >= 2
        |ORDER BY 1, 2""".stripMargin) { (s, d) =>
      import graft.operators.Winnow
      val fp = Winnow.fingerprints(t(s, d, "documents"), "doc_id", "text",
        k = 12, w = 8)
      Winnow.matches(fp, maxDf = 8, minShared = 2)
        .select(col("id_a"), col("id_b"), col("n_shared").cast("long"))
        .orderBy("id_a", "id_b")
    },

    Q("q232_kneser_ney_score",
      // q105's quality scorer under a REAL smoothed model: interpolated
      // Kneser-Ney (fixed D=0.75) — absolute discounting plus the
      // continuation distribution N1+(·,w2)/N1+(·,·), the Chen-Goodman
      // formulation. Every formula input is an exact integer count and
      // the float combination is the same IEEE expression tree on both
      // engines; avg(ln ·) rounds to 6 dp (q105 rule). Train on all,
      // score the doc_id < 200 batch.
      """WITH w AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |bi AS (
        |  SELECT doc_id, toks[__i] AS w1, toks[__i + 1] AS w2
        |  FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS __i
        |        FROM w WHERE len(toks) >= 2)),
        |c12 AS (SELECT w1, w2, count(*)::DOUBLE AS __c12 FROM bi GROUP BY w1, w2),
        |c1 AS (SELECT w1, count(*)::DOUBLE AS __c1,
        |         count(DISTINCT w2)::DOUBLE AS __n1fw FROM bi GROUP BY w1),
        |cont AS (SELECT w2, count(DISTINCT w1)::DOUBLE AS __n1bw FROM bi GROUP BY w2),
        |t AS (SELECT count(*)::DOUBLE AS __t FROM c12)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  round(avg(ln(
        |    greatest(__c12 - 0.75::DOUBLE, 0.0::DOUBLE) / __c1
        |      + ((0.75::DOUBLE * __n1fw) / __c1) * (__n1bw / __t))), 6) AS avg_kn_logp
        |FROM bi JOIN c12 USING (w1, w2) JOIN c1 USING (w1) JOIN cont USING (w2)
        |  CROSS JOIN t
        |WHERE doc_id < 200 GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      LangModel.kneserNeyLogProb(t(s, d, "documents"), "doc_id", "text",
          discount = 0.75, scoreFilter = col("doc_id") < 200)
        .orderBy("doc_id")
    },

    Q("q233_txtable_stats_agg",
      // the METADATA-ONLY aggregate path (Delta/Iceberg's
      // answer-from-the-log query): orders is z-order-ingested into a
      // TxTable whose commit log records per-file row counts (the
      // #rows pseudo-column riding every stats-on write) and min/max;
      // statsAggregate folds the LOG — zero data files opened, the
      // shape a 100 TB COUNT(*) must take — and the result must equal
      // DuckDB's full scan of the source. Refusal-not-wrong contract
      // (missing counts/stats throw) is TxTableStatsSpec territory,
      // including the data-files-deleted proof that no scan happens.
      """SELECT count(*)::BIGINT AS n_rows,
        |  min(o_custkey) AS min_o_custkey, max(o_custkey) AS max_o_custkey,
        |  min(o_totalprice) AS min_o_totalprice,
        |  max(o_totalprice) AS max_o_totalprice
        |FROM orders""".stripMargin) { (s, d) =>
      import graft.streaming.TxTable
      val table = Q.scratchDir("graft-q233") + "/orders_z"
      TxTable.ingestZOrdered(s, t(s, d, "orders"), table,
        "o_custkey", "o_orderkey", buckets = 16)
      TxTable.statsAggregate(s, table, Seq("o_custkey", "o_totalprice"))
    },

    Q("q234_blocklist_scan",
      // Aho-Corasick multi-pattern literal scan (CACM 1975): the
      // 10^4-entry blocklist pass, O(text) per document INDEPENDENT of
      // pattern count — automaton built once on the driver, closure-
      // broadcast, one narrow mapPartitions. Semantics = OVERLAPPING
      // occurrences (every end position counts), which the oracle
      // replays literally as a per-position substring probe; the
      // pattern set deliberately nests (tab ⊂ table) and crosses word
      // boundaries so the failure/output links are load-bearing.
      """WITH pats(pattern) AS (VALUES
        |  ('table'), ('tab'), ('scan'), ('fast table'), ('a a'),
        |  ('row'), ('order'), ('merge batch')),
        |m AS (
        |  SELECT doc_id, pattern,
        |    len(list_filter(generate_series(1, length(text) - length(pattern) + 1),
        |      p -> substr(text, p::INT, length(pattern)) = pattern))::BIGINT AS n_matches
        |  FROM documents CROSS JOIN pats)
        |SELECT doc_id, pattern, n_matches FROM m WHERE n_matches > 0
        |ORDER BY doc_id, pattern""".stripMargin) { (s, d) =>
      import graft.operators.MultiPattern
      MultiPattern.countMatches(t(s, d, "documents"), "doc_id", "text",
          Seq("table", "tab", "scan", "fast table", "a a",
            "row", "order", "merge batch"))
        .select(col("id").as("doc_id"), col("pattern"), col("n_matches"))
        .orderBy("doc_id", "pattern")
    },

    Q("q235_hilbert_values",
      // q106's Morton twin on the HILBERT curve: the 16-level xy2d walk
      // over (l_partkey, l_suppkey), engine side as 16 chained
      // projections (one fused codegen stage — never a nested Column
      // tree, which explodes exponentially under substitution), oracle
      // side as the identical arithmetic in 16 nested sub-selects.
      // Unlike Morton, consecutive distances are always grid neighbors
      // (LayoutSpec pins bijection + unit adjacency + bbox area <=
      // Morton's), which is what tightens per-file min/max boxes.
      s"""SELECT l_orderkey, l_linenumber, hd AS hval
         |FROM (${Layout.hilbert16Sql("l_partkey", "l_suppkey",
              Seq("l_orderkey", "l_linenumber"), "lineitem")})
         |ORDER BY hval, l_orderkey, l_linenumber LIMIT 50""".stripMargin) { (s, d) =>
      Layout.hilbert16(t(s, d, "lineitem"), "l_partkey", "l_suppkey", "hval")
        .select(col("l_orderkey"), col("l_linenumber"), col("hval"))
        .orderBy(col("hval"), col("l_orderkey"), col("l_linenumber"))
        .limit(50)
    },

    Q("q236_domain_rollup", {
      // URL canonicalization + eTLD+1 rollup (operators/Urls): messy
      // crawl URLs (mixed case, default ports, fragments, //, ./,
      // nested ../) normalize under the documented fixed-pass subset,
      // then aggregate per REGISTRABLE domain under the literal
      // public-suffix sample — the per-domain cap/blocklist unit
      // (C4/RefinedWeb's grouping), which plain host grouping gets
      // wrong for co.uk-style suffixes. The oracle replays the pass
      // chain step for step in CTEs via the operator's own SQL twins.
      import graft.operators.Urls
      val auth = "regexp_extract(nf, '^([^/?]*//[^/?]*)', 1)"
      val pathE = "regexp_extract(r, '^([^?]*)', 1)"
      s"""WITH u AS (
         |  SELECT doc_id, CASE (doc_id % 4)
         |    WHEN 0 THEN 'HTTP://WWW.Site' || (doc_id % 7) || '.COM:80/a//b/./d' || doc_id || '.html#sec'
         |    WHEN 1 THEN 'https://Blog.site' || (doc_id % 7) || '.CO.UK:443/posts/x/../arch/p' || doc_id || '?q=Q' || doc_id
         |    WHEN 2 THEN 'http://site' || (doc_id % 7) || '.org/x/y/../../idx' || doc_id || '.htm'
         |    ELSE 'https://cdn.site' || (doc_id % 7) || '.io:8443/img//f' || doc_id || '.png#x'
         |  END AS mu FROM documents),
         |s1 AS (SELECT doc_id, regexp_replace(mu, '#.*$$', '', 'g') AS nf FROM u),
         |s2 AS (SELECT doc_id, $auth AS a, substr(nf, length($auth) + 1) AS r FROM s1),
         |s3 AS (SELECT doc_id,
         |    CASE WHEN lower(a) LIKE 'http://%' THEN regexp_replace(lower(a), ':80$$', '')
         |         WHEN lower(a) LIKE 'https://%' THEN regexp_replace(lower(a), ':443$$', '')
         |         ELSE lower(a) END AS an,
         |    $pathE AS p, substr(r, length($pathE) + 1) AS q FROM s2),
         |s4 AS (SELECT doc_id, an || ${Urls.pathCleanupSql("p")} || q AS nu FROM s3),
         |s5 AS (SELECT doc_id, nu,
         |    ${Urls.registrableDomainSql(Urls.hostSql("nu"))} AS dom FROM s4)
         |SELECT dom, count(*)::BIGINT AS n_docs,
         |  count(DISTINCT nu)::BIGINT AS n_urls, min(nu) AS sample_url
         |FROM s5 GROUP BY dom ORDER BY dom""".stripMargin
    }) { (s, d) =>
      import graft.operators.Urls
      val k = (col("doc_id") % 7).cast("string")
      val id = col("doc_id").cast("string")
      val mu = when(col("doc_id") % 4 === 0,
          concat(lit("HTTP://WWW.Site"), k, lit(".COM:80/a//b/./d"), id, lit(".html#sec")))
        .when(col("doc_id") % 4 === 1,
          concat(lit("https://Blog.site"), k, lit(".CO.UK:443/posts/x/../arch/p"), id, lit("?q=Q"), id))
        .when(col("doc_id") % 4 === 2,
          concat(lit("http://site"), k, lit(".org/x/y/../../idx"), id, lit(".htm")))
        .otherwise(
          concat(lit("https://cdn.site"), k, lit(".io:8443/img//f"), id, lit(".png#x")))
      t(s, d, "documents")
        .withColumn("nu", Urls.normalize(mu))
        .withColumn("dom", Urls.registrableDomain(Urls.host(col("nu"))))
        .groupBy("dom")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("nu")).as("n_urls"),
          min(col("nu")).as("sample_url"))
        .orderBy("dom")
    },

    Q("q238_robots_decisions",
      // robots.txt evaluation (RFC 9309 subset, operators/Robots): 7
      // hosts get REAL robots bodies — even hosts carry a graftbot
      // group (Disallow /private/, Allow /private/pub<k>/ — the
      // longest-prefix override) above a star group disallowing
      // everything; odd hosts only the star group. The ENGINE parses
      // groups, picks exact-agent-else-star, and decides by longest
      // matching prefix; the oracle never parses — every decision has
      // a closed form from the construction (the q219 recipe): allowed
      // iff the host is even AND the path is the allowed subtree, an
      // unrestricted path, or the bare host.
      """WITH u AS (SELECT doc_id, doc_id % 7 AS k, doc_id % 5 AS m FROM documents)
        |SELECT 'http://site' || k || '.com' || CASE m
        |    WHEN 0 THEN '/private/pub' || k || '/p' || doc_id
        |    WHEN 1 THEN '/private/x' || doc_id
        |    WHEN 2 THEN '/open/p' || doc_id
        |    WHEN 3 THEN '/private/pub' || k || 'x' || doc_id
        |    ELSE '' END AS url,
        |  (k % 2 = 0 AND m IN (0, 2, 4)) AS allowed
        |FROM u ORDER BY url""".stripMargin) { (s, d) =>
      import graft.operators.Robots
      val k = (col("doc_id") % 7).cast("string")
      val id = col("doc_id").cast("string")
      val m = col("doc_id") % 5
      val url = concat(lit("http://site"), k, lit(".com"),
        when(m === 0, concat(lit("/private/pub"), k, lit("/p"), id))
          .when(m === 1, concat(lit("/private/x"), id))
          .when(m === 2, concat(lit("/open/p"), id))
          .when(m === 3, concat(lit("/private/pub"), k, lit("x"), id))
          .otherwise(lit("")))
      val urls = t(s, d, "documents").select(url.as("url"))
      val robots = s.range(7).select(
        concat(lit("site"), col("id"), lit(".com")).as("host"),
        when(col("id") % 2 === 0, concat(
            lit("User-agent: graftbot\nDisallow: /private/\nAllow: /private/pub"),
            col("id").cast("string"),
            lit("/\n\nUser-agent: *\nDisallow: /\n")))
          .otherwise(lit("User-agent: *\nDisallow: /\n")).as("txt"))
      Robots.allowed(urls, "url", robots, "host", "txt", "graftbot")
        .orderBy("url")
    },

    Q("q239_avro_pipeline",
      // the Avro object-container walk (operators/Avro — the published
      // format, implemented like the other codecs): documents are
      // encoded into per-file containers (codec rotating per file
      // through null / deflate / snappy-with-CRC, nullable union
      // field, deterministic sync markers), and the ENGINE parses the
      // binary back — zigzag varints, little-endian IEEE, per-block
      // sync verification, declared-schema cross-check, snappy
      // back-reference decode. The oracle never parses: every field
      // has a closed form from the assembly recipe (the q219/q229
      // recipe), md5(text) pins byte-exact recovery through BOTH
      // compressors, and the doc_id % 5 nulls pin the union branches.
      """SELECT doc_id % 31 AS file_id, doc_id, lang, md5(text) AS text_md5,
        |  CASE WHEN doc_id % 5 = 0 THEN NULL
        |       ELSE CAST(length(text) AS BIGINT) END AS opt_len
        |FROM documents ORDER BY file_id, doc_id""".stripMargin) { (s, d) =>
      import graft.operators.Avro
      val avroSchema =
        """{"type":"record","name":"doc","fields":[
          |{"name":"doc_id","type":"long"},
          |{"name":"lang","type":"string"},
          |{"name":"text","type":"string"},
          |{"name":"opt_len","type":["null","long"]}]}"""
          .stripMargin.replace("\n", "")
      val mkAvro = udf { (fileId: Long, recs: Seq[org.apache.spark.sql.Row]) =>
        val rows: Seq[Seq[Any]] = recs.map { r =>
          val id = r.getLong(0)
          Seq(id, r.getString(1), r.getString(2),
            if (id % 5 == 0) null else java.lang.Long.valueOf(r.getString(2).length.toLong))
        }
        val sync = (0 until 16).map(i => (fileId * 31 + i).toByte).toArray
        val codec = Seq("null", "deflate", "snappy")((fileId % 3).toInt)
        Avro.writeContainer(avroSchema, rows, sync, codec,
          recordsPerBlock = 16)
      }
      val containers = t(s, d, "documents")
        .groupBy((col("doc_id") % 31).as("file_id"))
        .agg(array_sort(collect_list(
          struct(col("doc_id"), col("lang"), col("text")))).as("recs"))
        .select(col("file_id"), mkAvro(col("file_id"), col("recs")).as("blob"))
      Avro.records(containers, "file_id", "blob", avroSchema)
        .select(col("file_id"), col("doc_id"), col("lang"),
          md5(col("text")).as("text_md5"), col("opt_len"))
        .orderBy("file_id", "doc_id")
    },

    Q("q240_spatial_grid_join",
      // 2-D spatial join (operators/SpatialJoin), the RangeJoin
      // family's planar sibling: orders become points, suppliers
      // become axis-aligned rectangles, and the engine joins them by
      // exploding each rectangle to its grid cells + ONE equi-join on
      // (cx, cy) + the exact containment filter — a (point, rect) pair
      // meets in exactly one cell, so no dedup step exists to get
      // wrong. The oracle is the brute-force range join (DuckDB's
      // IEJoin); the engine plan must never contain it (plan-audited
      // in SpatialJoinSpec).
      """WITH p AS (
        |  SELECT o_orderkey, o_orderkey % 997 AS px, o_custkey % 997 AS py
        |  FROM orders),
        |r AS (
        |  SELECT s_suppkey,
        |    (s_suppkey * 37) % 900 AS xlo, (s_suppkey * 59) % 900 AS ylo,
        |    (s_suppkey * 37) % 900 + 40 + s_suppkey % 50 AS xhi,
        |    (s_suppkey * 59) % 900 + 40 + (s_suppkey * 3) % 50 AS yhi
        |  FROM supplier)
        |SELECT s_suppkey, count(*)::BIGINT AS n_points,
        |  sum(o_orderkey)::BIGINT AS key_sum
        |FROM p JOIN r ON px BETWEEN xlo AND xhi AND py BETWEEN ylo AND yhi
        |GROUP BY s_suppkey ORDER BY s_suppkey""".stripMargin) { (s, d) =>
      import graft.operators.SpatialJoin
      val pts = t(s, d, "orders").select(col("o_orderkey"),
        (col("o_orderkey") % 997).as("px"), (col("o_custkey") % 997).as("py"))
      val rects = t(s, d, "supplier").select(col("s_suppkey"),
        ((col("s_suppkey") * 37) % 900).as("xlo"),
        ((col("s_suppkey") * 59) % 900).as("ylo"),
        ((col("s_suppkey") * 37) % 900 + 40 + col("s_suppkey") % 50).as("xhi"),
        ((col("s_suppkey") * 59) % 900 + 40 + (col("s_suppkey") * 3) % 50).as("yhi"))
      SpatialJoin.pointInRect(pts, "px", "py",
          rects, "xlo", "ylo", "xhi", "yhi", cellSize = 64L)
        .groupBy("s_suppkey")
        .agg(count(lit(1)).as("n_points"),
          sum(col("o_orderkey")).cast("long").as("key_sum"))
        .orderBy("s_suppkey")
    },

    Q("q241_postings_vbyte",
      // delta + VByte posting-list compression (operators/Postings —
      // the IR-textbook wire format): the engine REALLY encodes each
      // term's sorted doc-id list (absolute first value, strictly
      // positive gaps after, 7-bit groups with a continuation bit) and
      // measures the blob; the oracle predicts every blob's length
      // from the closed form — sum of the VByte CASE ladder over
      // first + gaps. A wrong gap, group boundary, or continuation
      // bit shifts byte_len and fails the hash. Round-trip identity
      // and hostile shapes are PostingsSpec territory.
      """WITH w AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
        |  FROM documents),
        |p AS (SELECT DISTINCT term, doc_id FROM w),
        |g AS (SELECT term, doc_id,
        |        doc_id - lag(doc_id) OVER (PARTITION BY term ORDER BY doc_id) AS gap
        |      FROM p),
        |l AS (SELECT term, coalesce(gap, doc_id) AS v FROM g),
        |b AS (SELECT term, count(*)::BIGINT AS df,
        |        sum(CASE WHEN v < 128 THEN 1 WHEN v < 16384 THEN 2
        |                 WHEN v < 2097152 THEN 3 WHEN v < 268435456 THEN 4
        |                 ELSE 5 END)::BIGINT AS byte_len
        |      FROM l GROUP BY term)
        |SELECT term, df, byte_len, round((df * 8.0) / byte_len, 4) AS ratio
        |FROM b ORDER BY term""".stripMargin) { (s, d) =>
      import graft.operators.{Dedup, Postings}
      val idx = t(s, d, "documents")
        .select(col("doc_id"), explode(Dedup.tokens(col("text"))).as("term"))
        .distinct()
        .groupBy("term")
        .agg(sort_array(collect_set(col("doc_id"))).as("postings"))
      Postings.compress(idx, "term", "postings")
        .select(col("term"), col("df"), col("byte_len"),
          round((col("df") * lit(8.0)) / col("byte_len"), 4).as("ratio"))
        .orderBy("term")
    },

    Q("q242_seasonal_decompose",
      // classical additive seasonal decomposition over the hourly
      // events series (TimeSeries.seasonalDecompose): 2×24 centered-MA
      // trend with half-weight endpoints, detrended residuals grouped
      // by hour-of-day phase. The whole window pipeline stays in EXACT
      // LONGS (cents × trend scale 48) because engines disagree on
      // sliding float summation order (segment tree vs streaming); the
      // one IEEE division happens at presentation, identical trees.
      // Absent hours enter as explicit zeros (a modeled value, never a
      // silently shrunken window); edge buckets without a full window
      // carry no trend by construction.
      """WITH e AS (
        |  SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) AS b,
        |         CAST(round(value * 100) AS BIGINT) AS v
        |  FROM events),
        |agg AS (SELECT b, sum(v)::BIGINT AS x FROM e GROUP BY b),
        |bounds AS (SELECT min(b) AS lo, max(b) AS hi FROM agg),
        |grid AS (SELECT unnest(generate_series(lo, hi)) AS b FROM bounds),
        |ser AS (SELECT g.b, coalesce(agg.x, 0)::BIGINT AS x
        |        FROM grid g LEFT JOIN agg ON g.b = agg.b),
        |win AS (SELECT b, x,
        |    lag(x, 12) OVER w AS xm, lead(x, 12) OVER w AS xp,
        |    sum(x) OVER (ORDER BY b ROWS BETWEEN 11 PRECEDING AND 11 FOLLOWING) AS innr,
        |    lag(b, 12) OVER w AS bm, lead(b, 12) OVER w AS bp
        |  FROM ser WINDOW w AS (ORDER BY b)),
        |det AS (
        |  SELECT b % 24 AS phase, x * 48 - (xm + innr * 2 + xp) AS dn
        |  FROM win WHERE bm IS NOT NULL AND bp IS NOT NULL)
        |SELECT phase, count(*)::BIGINT AS n, sum(dn)::BIGINT AS s_num,
        |  round((sum(dn)::DOUBLE / count(*)::DOUBLE) / 4800.0, 6) AS seasonal
        |FROM det GROUP BY phase ORDER BY phase""".stripMargin) { (s, d) =>
      import graft.operators.TimeSeries
      val ev = t(s, d, "events")
        .select(floor(unix_timestamp(col("ts")) / 3600).cast("long").as("b"),
          round(col("value") * 100).cast("long").as("v"))
      val agg = ev.groupBy("b").agg(sum(col("v")).cast("long").as("x"))
      val grid = agg.agg(min("b").as("lo"), max("b").as("hi"))
        .select(explode(sequence(col("lo"), col("hi"))).as("b"))
      val series = grid.join(agg, Seq("b"), "left")
        .select(col("b"), coalesce(col("x"), lit(0L)).as("x"))
      TimeSeries.seasonalDecompose(series, "b", "x", period = 24)
        .filter(col("detrended_num").isNotNull)
        .groupBy("phase")
        .agg(count(lit(1)).as("n"),
          sum(col("detrended_num")).cast("long").as("s_num"),
          round((sum(col("detrended_num")).cast("double") /
            count(lit(1)).cast("double")) / lit(4800.0), 6).as("seasonal"))
        .orderBy("phase")
    },

    Q("q243_unigram_viterbi",
      // the THIRD learned-subword family (operators/Unigram, after BPE
      // q194/q195 and WordPiece q221/q222): SentencePiece-unigram
      // DECODE — globally-optimal Viterbi segmentation under an
      // integer-scored lexicon, where ta+ble (9) beats the whole-word
      // 'table' (8), the case greedy max-munch structurally cannot
      // produce, and 'window' (12) shows the whole word winning back.
      // Ties prefer the longer FINAL piece at every DP position; the
      // oracle enumerates EVERY segmentation by recursive CTE (words
      // are short, so the space is small) and applies the same global
      // order (score desc, reversed-length key desc) — the DP must
      // pick the identical argmax for all 31 words. Off-lexicon chars
      // are score-0 UNK singletons, so segmentation is total.
      """WITH RECURSIVE
        |px(p, s) AS (VALUES
        |  ('ta', 4), ('ble', 5), ('table', 8), ('cust', 6), ('omer', 6),
        |  ('customer', 11), ('scan', 9), ('s', 1), ('tream', 7), ('win', 5),
        |  ('dow', 5), ('window', 12), ('sort', 7), ('so', 2), ('rt', 2),
        |  ('a', 2), ('val', 3), ('ue', 3), ('li', 3), ('ne', 3), ('lin', 4), ('e', 2)),
        |w AS (SELECT DISTINCT unnest(string_split_regex(trim(text), '\s+')) AS word
        |      FROM documents),
        |pos AS (SELECT word, unnest(generate_series(0, length(word) - 1)) AS j FROM w),
        |cand AS (
        |  SELECT pos.word, pos.j::INT AS j, px.p, px.s::BIGINT AS s, 0::BIGINT AS unk
        |  FROM pos JOIN px ON substr(pos.word, pos.j::INT + 1, length(px.p)) = px.p
        |  UNION ALL
        |  SELECT word, j::INT, substr(word, j::INT + 1, 1), 0::BIGINT, 1::BIGINT
        |  FROM pos WHERE substr(word, j::INT + 1, 1) NOT IN (SELECT p FROM px)),
        |seg AS (
        |  SELECT word, 0 AS i, 0::BIGINT AS score, '' AS pieces, 0::BIGINT AS n_unk,
        |         0::BIGINT AS n_pieces, '' AS rkey
        |  FROM w
        |  UNION ALL
        |  SELECT s.word, s.i + length(c.p), s.score + c.s,
        |         CASE WHEN s.pieces = '' THEN c.p ELSE s.pieces || ' ' || c.p END,
        |         s.n_unk + c.unk, s.n_pieces + 1,
        |         lpad(length(c.p)::VARCHAR, 9, '0') || s.rkey
        |  FROM seg s JOIN cand c ON c.word = s.word AND c.j = s.i),
        |full_seg AS (SELECT * FROM seg WHERE i = length(word)),
        |ranked AS (
        |  SELECT word, pieces, score, n_pieces, n_unk,
        |    row_number() OVER (PARTITION BY word ORDER BY score DESC, rkey DESC) AS rn
        |  FROM full_seg)
        |SELECT word, pieces, score, CAST(n_pieces AS INT) AS n_pieces,
        |  CAST(n_unk AS INT) AS n_unk
        |FROM ranked WHERE rn = 1 ORDER BY word""".stripMargin) { (s, d) =>
      import graft.operators.{Dedup, Unigram}
      val lexicon = Map(
        "ta" -> 4L, "ble" -> 5L, "table" -> 8L, "cust" -> 6L, "omer" -> 6L,
        "customer" -> 11L, "scan" -> 9L, "s" -> 1L, "tream" -> 7L, "win" -> 5L,
        "dow" -> 5L, "window" -> 12L, "sort" -> 7L, "so" -> 2L, "rt" -> 2L,
        "a" -> 2L, "val" -> 3L, "ue" -> 3L, "li" -> 3L, "ne" -> 3L,
        "lin" -> 4L, "e" -> 2L)
      val words = t(s, d, "documents")
        .select(explode(Dedup.tokens(col("text"))).as("word"))
        .distinct()
      Unigram.viterbiSegment(words, "word", lexicon)
        .orderBy("word")
    },

    Q("q244_protobuf_pipeline",
      // the protobuf wire-format walk (operators/Protobuf — the
      // published encoding spec): documents become length-prefixed
      // messages with a PACKED repeated word-length field, a zigzag
      // sint64, and a conditionally-ABSENT string (doc_id % 7 — absent
      // must surface as NULL, not proto3's invisible default); the
      // ENGINE decodes tags, varints, packed runs and zigzag back.
      // The oracle never parses (q219/q229/q239 recipe): every field,
      // the repeated array's length and sum included, has a closed
      // form from the assembly recipe.
      """SELECT doc_id % 33 AS file_id, doc_id,
        |  CASE WHEN doc_id % 7 = 0 THEN NULL ELSE lang END AS lang,
        |  md5(text) AS text_md5,
        |  CAST(-doc_id AS BIGINT) AS neg,
        |  len(string_split_regex(trim(text), '\s+'))::BIGINT AS n_words,
        |  list_sum(list_transform(string_split_regex(trim(text), '\s+'),
        |    w -> length(w)))::BIGINT AS words_len_sum
        |FROM documents ORDER BY file_id, doc_id""".stripMargin) { (s, d) =>
      import graft.operators.Protobuf
      import graft.operators.Protobuf.PbField
      val pbSchema = Seq(
        PbField(1, "doc_id", "int64"),
        PbField(2, "lang", "string"),
        PbField(3, "text", "string"),
        PbField(4, "word_lens", "int64", repeated = true),
        PbField(5, "neg", "sint64"))
      val mkPb = udf { recs: Seq[org.apache.spark.sql.Row] =>
        Protobuf.writeStream(pbSchema, recs.map { r =>
          val id = r.getLong(0)
          val text = r.getString(2)
          Map[String, Any]("doc_id" -> id,
            "lang" -> (if (id % 7 == 0) null else r.getString(1)),
            "text" -> text,
            "word_lens" -> text.trim.split("\\s+").toSeq.map(_.length.toLong),
            "neg" -> -id)
        })
      }
      val containers = t(s, d, "documents")
        .groupBy((col("doc_id") % 33).as("file_id"))
        .agg(array_sort(collect_list(
          struct(col("doc_id"), col("lang"), col("text")))).as("recs"))
        .select(col("file_id"), mkPb(col("recs")).as("blob"))
      Protobuf.records(containers, "file_id", "blob", pbSchema)
        .select(col("file_id"), col("doc_id"), col("lang"),
          md5(col("text")).as("text_md5"), col("neg"),
          size(col("word_lens")).cast("long").as("n_words"),
          aggregate(col("word_lens"), lit(0L), _ + _).as("words_len_sum"))
        .orderBy("file_id", "doc_id")
    },

    Q("q245_spatial_polygon_join",
      // q240's general-shape sibling: points × CONVEX POLYGONS
      // (supplier diamonds, CCW by construction) via the same grid
      // bucketing — bounding-box cells, one equi-join, then the exact
      // half-plane test (every edge's integer cross product >= 0).
      // The oracle dodges the cross products entirely: a diamond has
      // the closed containment form |dx|·b + |dy|·a <= a·b, also
      // exact integers — two INDEPENDENT formulations that must agree
      // point for point. Clockwise/degenerate rings are refused
      // loudly in the operator (SpatialJoinSpec).
      """WITH p AS (
        |  SELECT o_orderkey, o_orderkey % 997 AS px, o_custkey % 997 AS py
        |  FROM orders),
        |r AS (
        |  SELECT s_suppkey,
        |    (s_suppkey * 37) % 900 + 50 AS cx, (s_suppkey * 59) % 900 + 50 AS cy,
        |    20 + s_suppkey % 30 AS a, 20 + (s_suppkey * 3) % 30 AS b
        |  FROM supplier)
        |SELECT s_suppkey, count(*)::BIGINT AS n_points,
        |  sum(o_orderkey)::BIGINT AS key_sum
        |FROM p JOIN r ON abs(px - cx) * b + abs(py - cy) * a <= a * b
        |GROUP BY s_suppkey ORDER BY s_suppkey""".stripMargin) { (s, d) =>
      import graft.operators.SpatialJoin
      val pts = t(s, d, "orders").select(col("o_orderkey"),
        (col("o_orderkey") % 997).as("px"), (col("o_custkey") % 997).as("py"))
      val cx = (col("s_suppkey") * 37) % 900 + 50
      val cy = (col("s_suppkey") * 59) % 900 + 50
      val a = lit(20) + col("s_suppkey") % 30
      val b = lit(20) + (col("s_suppkey") * 3) % 30
      def v(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
        struct(x.cast("long").as("x"), y.cast("long").as("y"))
      val polys = t(s, d, "supplier").select(col("s_suppkey"),
        array(v(cx + a, cy), v(cx, cy + b), v(cx - a, cy), v(cx, cy - b)).as("verts"))
      SpatialJoin.pointInConvexPoly(pts, "px", "py", polys, "verts", cellSize = 64L)
        .groupBy("s_suppkey")
        .agg(count(lit(1)).as("n_points"),
          sum(col("o_orderkey")).cast("long").as("key_sum"))
        .orderBy("s_suppkey")
    },

    Q("q246_txtable_partition_census",
      // q233's GROUPED sibling: orders land in a TxTable PARTITIONED
      // by priority (the reference's collection-per-server shape), and
      // statsAggregateByPartition answers the per-partition
      // count/min/max census from the COMMIT LOG alone — one row per
      // partition, zero data files opened, the per-tenant dashboard
      // poll a 100 TB operator runs every minute. All keys are unique
      // so the last-value merge keeps every row, and the oracle is a
      // plain grouped scan of the source. A third of orders: the
      // bench cost of this query is the TABLE BUILD per run (the
      // census itself is milliseconds), so the fixture stays small
      // while every partition keeps thousands of rows.
      """SELECT o_orderpriority AS partition, count(*)::BIGINT AS n_rows,
        |  min(o_orderkey) AS min_k, max(o_orderkey) AS max_k,
        |  min(o_totalprice) AS min_v, max(o_totalprice) AS max_v
        |FROM orders WHERE o_orderkey % 3 = 0 GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      import graft.streaming.TxTable
      val table = Q.scratchDir("graft-q246") + "/orders_parts"
      val batch = t(s, d, "orders").filter(col("o_orderkey") % 3 === 0).select(
        col("o_orderpriority").as("p"), col("o_orderkey").as("k"),
        col("o_orderkey").as("o"), col("o_totalprice").as("v"))
      TxTable.mergeLatest(s, batch, table,
        partitionCol = "p", keys = Seq("p", "k"), order = Seq("o"))
      TxTable.statsAggregateByPartition(s, table, Seq("k", "v"))
        .orderBy("partition")
    },

    Q("q247_flesch_readability",
      // Flesch reading ease (1948) with the vowel-group syllable
      // heuristic — the classic readability score beside the Gopher
      // battery (q217): counts stay exact longs (words, sentences,
      // vowel runs with the silent-e deduction floored at 1), the
      // published formula is one shared IEEE tree rounded 4 dp, and
      // zero-count documents yield NULL, never an engine-dependent
      // 0/0. The oracle replays the estimator run for run with DuckDB
      // list/regexp primitives.
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |      w -> w <> '') AS ws,
        |    list_filter(list_transform(string_split_regex(text, '[.!?]+'),
        |      s -> trim(s)), s -> s <> '') AS segs
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, len(ws)::BIGINT AS n_words, len(segs)::BIGINT AS n_sentences,
        |    list_sum(list_transform(ws, w -> greatest(1,
        |      len(regexp_extract_all(w, '[aeiouy]+'))
        |        - CASE WHEN ends_with(w, 'e')
        |               AND len(regexp_extract_all(w, '[aeiouy]+')) > 1
        |          THEN 1 ELSE 0 END)))::BIGINT AS n_syllables
        |  FROM t)
        |SELECT doc_id, n_words, n_sentences, coalesce(n_syllables, 0) AS n_syllables,
        |  CASE WHEN n_words > 0 AND n_sentences > 0 THEN
        |    round(206.835::DOUBLE
        |      - 1.015::DOUBLE * (n_words::DOUBLE / n_sentences::DOUBLE)
        |      - 84.6::DOUBLE * (n_syllables::DOUBLE / n_words::DOUBLE), 4)
        |  END AS flesch
        |FROM c ORDER BY doc_id""".stripMargin) { (s, d) =>
      graft.operators.GopherFilter.fleschSignals(t(s, d, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    },

    Q("q248_kcore", {
      // k-core peeling (Seidman 1983) over a bipartite-ish order/part
      // graph: the engine peels to the FIXPOINT (one count action per
      // round, lineage-truncated rounds — the PageRank discipline);
      // the oracle unrolls 14 static peel rounds in chained CTEs. The
      // bridge between them is idempotence: a converged peel is a
      // no-op, so as long as the engine converges within the replay's
      // round budget (maxRounds = 14 here — drift past it fails LOUD,
      // never a silent mismatch) the two reach the identical unique
      // k-core. sf0.01 cascades ~9 rounds deep; sf0.1 is dense enough
      // to survive almost intact — both ends of the behavior, same
      // code.
      val k = 6; val rounds = 14
      val steps = (1 to rounds).map { i =>
        s"""d$i AS (SELECT v, count(*) AS deg FROM (
           |  SELECT a AS v FROM e${i - 1} UNION ALL SELECT b FROM e${i - 1}) GROUP BY v),
           |k$i AS (SELECT v FROM d$i WHERE deg >= $k),
           |e$i AS MATERIALIZED (SELECT e.a, e.b FROM e${i - 1} e
           |  JOIN k$i x ON e.a = x.v JOIN k$i y ON e.b = y.v)""".stripMargin
      }.mkString(",\n")
      // MATERIALIZED: DuckDB inlines CTEs by default, which makes a
      // 14-round self-referencing chain expand exponentially (observed
      // as fd exhaustion re-opening the parquet)
      s"""WITH e0 AS MATERIALIZED (
         |  SELECT DISTINCT l_orderkey % 50021 AS a,
         |         50021 + (l_partkey * 7) % 49999 AS b
         |  FROM lineitem),
         |$steps
         |SELECT node, count(*)::BIGINT AS deg FROM (
         |  SELECT a AS node FROM e$rounds UNION ALL SELECT b FROM e$rounds) __n
         |GROUP BY node ORDER BY node""".stripMargin
    }) { (s, d) =>
      import graft.operators.Graph
      val edges = t(s, d, "lineitem").select(
        (col("l_orderkey") % 50021).as("src"),
        (lit(50021) + (col("l_partkey") * 7) % 49999).as("dst"))
      Graph.kCore(edges, "src", "dst", k = 6, maxRounds = 14)
        .select(col("node"), col("deg").cast("long"))
        .orderBy("node")
    },

    Q("q249_cdf_incremental_agg",
      // IVM ∘ CDF, end to end at the query layer: q185 proved the
      // refresh algebra against a SYNTHETIC Snapshot.changeDataFeed;
      // here the SAME IncrementalAgg.refreshSumCount state is maintained
      // THROUGH the ACID table's real streaming change feed — three
      // TxTable commits (base inserts %9 → upsert reprice %15 → keyed
      // delete %21, the q214 fixture algebra) drain via a txtable-cdf
      // readStream with maxVersionsPerTrigger=1, and EACH micro-batch
      // folds its signed deltas into a parquet-persisted aggregate state
      // (foreachBatch; state v{n} = refresh(state v{n-1}, batch n)) —
      // the engine never rescans the table. The ORACLE recomputes the
      // aggregate over the table's FINAL contents relationally; equality
      // proves the stream delivered every commit's delta exactly once
      // AND that the maintenance composes across arbitrary micro-batch
      // boundaries (sum/count are abelian — the whole point).
      // PRESENTATION: decimals maintained end-to-end, ONE terminal cast
      // to DOUBLE on both sides (the q89 pattern; r12 q185 lesson).
      """WITH s0 AS (
        |  SELECT o_orderkey AS k, o_orderstatus AS st,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS p
        |  FROM orders WHERE o_orderkey % 9 = 0),
        |c1 AS (
        |  SELECT o_orderkey AS k, o_orderstatus AS st,
        |    CAST(round(o_totalprice + 1, 2) AS DECIMAL(18,2)) AS p
        |  FROM orders WHERE o_orderkey % 15 = 0),
        |s1 AS (
        |  SELECT coalesce(c1.k, s0.k) AS k, coalesce(c1.st, s0.st) AS st,
        |    coalesce(c1.p, s0.p) AS p
        |  FROM s0 FULL JOIN c1 ON s0.k = c1.k),
        |fin AS (SELECT * FROM s1 WHERE k % 21 <> 0)
        |SELECT st AS o_orderstatus, CAST(k % 7 AS BIGINT) AS bucket,
        |  count(*)::BIGINT AS n_orders,
        |  CAST(CAST(sum(p) AS DECIMAL(18,2)) AS DOUBLE) AS total
        |FROM fin GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      import graft.operators.IncrementalAgg
      import graft.streaming.TxTable
      val root = Q.scratchDir("graft-q249")
      val table = root + "/tbl"; val ckpt = root + "/ckpt"
      val orders = t(s, d, "orders")
      val keys = Seq("o_orderstatus", "o_orderkey")
      TxTable.mergeLatest(s,
        orders.filter(col("o_orderkey") % 9 === 0)
          .select(col("o_orderstatus"), col("o_orderkey"),
            col("o_totalprice").cast("decimal(18,2)").as("p"), lit(0L).as("seq")),
        table, "o_orderstatus", keys, Seq("seq"))
      TxTable.mergeLatest(s,
        orders.filter(col("o_orderkey") % 15 === 0)
          .select(col("o_orderstatus"), col("o_orderkey"),
            round(col("o_totalprice") + 1, 2).cast("decimal(18,2)").as("p"),
            lit(1L).as("seq")),
        table, "o_orderstatus", keys, Seq("seq"))
      TxTable.deleteKeys(s,
        orders.filter(col("o_orderkey") % 21 === 0 &&
            (col("o_orderkey") % 9 === 0 || col("o_orderkey") % 15 === 0))
          .select("o_orderstatus", "o_orderkey"),
        table, "o_orderstatus", keys)
      val groupCols = Seq("o_orderstatus", "bucket")
      // zero-row aggregate with the EXACT state dtypes the refresh
      // maintains — the seed every subsequent batch folds into
      val emptyState = orders.filter(lit(false))
        .select(col("o_orderstatus"), (col("o_orderkey") % 7).as("bucket"),
          col("o_totalprice").cast("decimal(18,2)").as("p"))
        .groupBy(groupCols.map(col): _*)
        .agg(count(lit(1)).as("n_orders"), sum(col("p")).as("p"))
      // driver-side pointer to the latest persisted state version; the
      // state itself stays distributed (parquet in, parquet out)
      var stateDir: Option[String] = None
      val q = s.readStream.format("txtable-cdf")
        .option("path", table).option("keyCol", "o_orderkey")
        .option("keys", "o_orderstatus,o_orderkey").option("order", "seq")
        .option("compareCols", "o_orderstatus,p")
        .option("maxVersionsPerTrigger", "1") // force ≥3 micro-batches
        .load()
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (cdf: org.apache.spark.sql.DataFrame, id: Long) =>
          val prev = stateDir.map(s.read.parquet(_)).getOrElse(emptyState)
          val batch = cdf
            .withColumn("bucket", col("o_orderkey") % 7)
            .select(col("o_orderstatus"), col("bucket"), col("p"),
              col("change_type"))
          val next = IncrementalAgg.refreshSumCount(
            prev, batch, groupCols, "n_orders", Seq("p"))
          val dir = s"$root/state_$id"
          // sized write of the O(groups) state (the session default left up to
          // 32 tiny files per batch); sum/count refresh is partition-independent
          graft.operators.Checkpoints.sizedLoop(prev) { loop =>
            graft.operators.Checkpoints.rebind(loop, next).write.mode("overwrite").parquet(dir)
          }
          stateDir = Some(dir)
          ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.read.parquet(stateDir.getOrElse(
          sys.error("q249: CDF stream delivered no batches")))
        .select(col("o_orderstatus"), col("bucket").cast("long").as("bucket"),
          col("n_orders"),
          col("p").cast("decimal(18,2)").cast("double").as("total"))
        .orderBy("o_orderstatus", "bucket")
    },

    Q("q256_bson_pipeline",
      // the BSON document walk (operators/Bson — the published
      // bsonspec.org grammar; the reference's egress is BSON documents
      // into MongoDB, Program.cs:1146-1198, so a mongodump-style
      // concatenated stream is its at-rest twin): documents become
      // BSON docs carrying every supported element class — int64,
      // explicitly-NULL string (0x0A must surface as SQL NULL),
      // double, bool, UTC datetime (0x09 epoch ms → timestamp),
      // int32, an int64 ARRAY (nested doc with consecutive decimal
      // keys), plus an UNDECLARED field the decoder must skip. The
      // oracle never parses (q219/q239/q244 recipe): every field has
      // a closed form from the assembly recipe; the double is dyadic
      // (k/8) so cross-engine floats are bit-exact.
      """SELECT doc_id % 33 AS file_id, doc_id,
        |  CASE WHEN doc_id % 7 = 0 THEN NULL ELSE lang END AS lang,
        |  md5(text) AS text_md5,
        |  CAST(doc_id % 256 AS DOUBLE) / 8 AS score,
        |  CAST(doc_id % 2 = 0 AS INT) AS flag_i,
        |  epoch_ms(doc_id * 977) AS ts,
        |  CAST(strlen(text) AS INT) AS n_chars,
        |  len(string_split_regex(trim(text), '\s+'))::BIGINT AS n_words,
        |  list_sum(list_transform(string_split_regex(trim(text), '\s+'),
        |    w -> length(w)))::BIGINT AS words_len_sum
        |FROM documents ORDER BY file_id, doc_id""".stripMargin) { (s, d) =>
      import graft.operators.Bson
      import graft.operators.Bson.BsonField
      val readerFields = Seq(
        BsonField("doc_id", "int64"), BsonField("lang", "string"),
        BsonField("text", "string"), BsonField("score", "double"),
        BsonField("flag", "bool"), BsonField("ts", "datetime"),
        BsonField("n_chars", "int32"), BsonField("word_lens", "array", "int64"))
      // the writer plants one extra field the reader never declares —
      // the decoder's type-driven skip is load-bearing in this query
      val writerFields = readerFields :+ BsonField("skipme", "int32")
      val mkBson = udf { recs: Seq[org.apache.spark.sql.Row] =>
        Bson.writeStream(writerFields, recs.map { r =>
          val id = r.getLong(0)
          val text = r.getString(2)
          Map[String, Any]("doc_id" -> id,
            "lang" -> (if (id % 7 == 0) null else r.getString(1)),
            "text" -> text,
            "score" -> ((id % 256).toDouble / 8.0),
            "flag" -> (id % 2 == 0),
            "ts" -> (id * 977),
            "n_chars" -> text.getBytes(java.nio.charset.StandardCharsets.UTF_8).length,
            "word_lens" -> text.trim.split("\\s+").toSeq.map(_.length.toLong),
            "skipme" -> 1)
        })
      }
      val containers = t(s, d, "documents")
        .groupBy((col("doc_id") % 33).as("file_id"))
        .agg(array_sort(collect_list(
          struct(col("doc_id"), col("lang"), col("text")))).as("recs"))
        .select(col("file_id"), mkBson(col("recs")).as("blob"))
      Bson.records(containers, "file_id", "blob", readerFields)
        .select(col("file_id"), col("doc_id"), col("lang"),
          md5(col("text")).as("text_md5"), col("score"),
          col("flag").cast("int").as("flag_i"), col("ts"),
          col("n_chars"),
          size(col("word_lens")).cast("long").as("n_words"),
          aggregate(col("word_lens"), lit(0L), _ + _).as("words_len_sum"))
        .orderBy("file_id", "doc_id")
    },

    Q("q259_bfs_khop", {
      // bounded multi-source BFS (Graph.bfsDistances) on the q248
      // order/part graph: distance to the NEAREST source for every
      // node within 4 hops — the k-hop-neighborhood primitive
      // (contamination blast radius, crawl frontiers). The oracle
      // unrolls the frontier expansion statically: r_i = nodes within
      // i hops (monotone sets), dist = min round of first appearance —
      // exactly the engine's first-discovery-wins anti-join.
      val depth = 4
      val steps = (1 to depth).map { i =>
        s"""r$i AS MATERIALIZED (
           |  SELECT DISTINCT v AS node FROM bidir JOIN r${i - 1} ON u = node
           |  UNION SELECT node FROM r${i - 1})""".stripMargin
      }.mkString(",\n")
      val tags = (0 to depth)
        .map(i => s"SELECT node, $i AS dist FROM r$i").mkString(" UNION ALL ")
      s"""WITH e AS MATERIALIZED (
         |  SELECT DISTINCT l_orderkey % 50021 AS a,
         |         50021 + (l_partkey * 7) % 49999 AS b
         |  FROM lineitem),
         |bidir AS MATERIALIZED (
         |  SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e),
         |r0 AS MATERIALIZED (
         |  SELECT DISTINCT a AS node FROM e WHERE a % 977 = 0),
         |$steps
         |SELECT node, min(dist)::BIGINT AS dist FROM ($tags) __t
         |GROUP BY node ORDER BY node""".stripMargin
    }) { (s, d) =>
      val edges = t(s, d, "lineitem").select(
        (col("l_orderkey") % 50021).as("src"),
        (lit(50021) + (col("l_partkey") * 7) % 49999).as("dst"))
      val sources = edges.select(col("src").as("n"))
        .filter(col("n") % 977 === 0).distinct()
      Graph.bfsDistances(edges, "src", "dst", sources, "n", maxDepth = 4)
        .orderBy("node")
    },

    Q("q275_weighted_shortest_paths", {
      // weighted multi-source shortest paths (Graph.shortestPaths) on
      // the q259 graph with INTEGER edge weights 1 + l_partkey % 7 —
      // Bellman-Ford relaxation, synchronous rounds, integer min/plus
      // (order-insensitive → engine-replayable; float weights would
      // tie nondeterministically). The oracle unrolls the identical
      // recurrence: d_i = per-node min over d_{i-1} ∪ relax(d_{i-1});
      // the engine's early fixpoint exit is oracle-neutral (post-
      // fixpoint rounds are identity). Parallel edges collapse to
      // their min weight on BOTH sides.
      val rounds = 6
      val steps = (1 to rounds).map { i =>
        s"""r$i AS MATERIALIZED (
           |  SELECT node, min(dist) AS dist FROM (
           |    SELECT node, dist FROM r${i - 1}
           |    UNION ALL
           |    SELECT e.v AS node, r.dist + e.w AS dist
           |    FROM r${i - 1} r JOIN bidir e ON e.u = r.node)
           |  GROUP BY node)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS MATERIALIZED (
         |  SELECT a, b, min(w) AS w FROM (
         |    SELECT l_orderkey % 50021 AS a,
         |           50021 + (l_partkey * 7) % 49999 AS b,
         |           1 + l_partkey % 7 AS w
         |    FROM lineitem) GROUP BY a, b),
         |bidir AS MATERIALIZED (
         |  SELECT a AS u, b AS v, w FROM e
         |  UNION ALL SELECT b, a, w FROM e),
         |r0 AS MATERIALIZED (
         |  SELECT DISTINCT a AS node, 0 AS dist FROM e WHERE a % 977 = 0),
         |$steps
         |SELECT node, dist::BIGINT AS dist FROM r$rounds
         |ORDER BY node""".stripMargin
    }) { (s, d) =>
      val edges = t(s, d, "lineitem").select(
        (col("l_orderkey") % 50021).as("src"),
        (lit(50021) + (col("l_partkey") * 7) % 49999).as("dst"),
        (lit(1) + col("l_partkey") % 7).as("w"))
      val sources = edges.select(col("src").as("n"))
        .filter(col("n") % 977 === 0).distinct()
      Graph.shortestPaths(edges, "src", "dst", "w", sources, "n",
          maxRounds = 6)
        .orderBy("node")
    },

    Q("q260_label_propagation", {
      // synchronous label propagation (Raghavan 2007) made
      // deterministic — most-frequent neighbor label, ties to the
      // SMALLEST, a FIXED 4 rounds — so the oracle replays the exact
      // trajectory round for round (free-running asynchronous LPA is
      // unreplayable by design; fixed-round synchronous is the
      // engine-stable variant). All-integer: label counts and min
      // ties, no scores.
      val rounds = 4
      val steps = (1 to rounds).map { i =>
        s"""l$i AS MATERIALIZED (
           |  SELECT node, label FROM (
           |    SELECT node, label,
           |      row_number() OVER (PARTITION BY node ORDER BY cnt DESC, label) AS rn
           |    FROM (SELECT b.u AS node, l.label, count(*) AS cnt
           |          FROM bidir b JOIN l${i - 1} l ON b.v = l.node
           |          GROUP BY 1, 2) __c$i) __r$i
           |  WHERE rn = 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS MATERIALIZED (
         |  SELECT DISTINCT l_orderkey % 50021 AS a,
         |         50021 + (l_partkey * 7) % 49999 AS b
         |  FROM lineitem),
         |bidir AS MATERIALIZED (
         |  SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e),
         |l0 AS MATERIALIZED (SELECT DISTINCT u AS node, u AS label FROM bidir),
         |$steps
         |SELECT node, label FROM l$rounds ORDER BY node""".stripMargin
    }) { (s, d) =>
      val edges = t(s, d, "lineitem").select(
        (col("l_orderkey") % 50021).as("src"),
        (lit(50021) + (col("l_partkey") * 7) % 49999).as("dst"))
      Graph.labelPropagation(edges, "src", "dst", rounds = 4)
        .orderBy("node")
    },

    Q("q262_exact_substring_spans",
      // EXACT-SUBSTRING dedup (Lee et al., ACL 2022 — their suffix
      // array re-expressed as positional-gram equi-joins + diagonal
      // run-length islands, Dedup.sharedSubstringSpans): every maximal
      // shared substring ≥ 40 chars between any two documents, with
      // exact extents. df ∈ [2, 8] prunes both unique grams (cannot
      // pair) and boilerplate (the join bomb); the oracle replays the
      // identical construction in SQL, cap included, so the spans'
      // exact starts and lengths are the claim. The planted exact-dup
      // documents surface as full-document spans.
      """WITH t AS (
        |  SELECT doc_id, regexp_replace(trim(text), '\s+', ' ', 'g') AS s
        |  FROM documents),
        |g0 AS (SELECT doc_id, s,
        |         unnest(generate_series(0, length(s) - 20)) AS pos FROM t),
        |g AS (SELECT doc_id, pos, substring(s, pos::INT + 1, 20) AS gram FROM g0),
        |keep AS (SELECT gram FROM g GROUP BY gram HAVING count(*) BETWEEN 2 AND 8),
        |gk AS (SELECT g.* FROM g JOIN keep USING (gram)),
        |p AS (SELECT a.doc_id AS id1, b.doc_id AS id2, a.pos AS p1,
        |             a.pos - b.pos AS diag
        |      FROM gk a JOIN gk b ON a.gram = b.gram AND a.doc_id < b.doc_id),
        |runs AS (SELECT id1, id2, diag, p1,
        |           p1 - row_number() OVER (PARTITION BY id1, id2, diag ORDER BY p1) AS grp
        |         FROM p)
        |SELECT id1, id2, min(p1)::BIGINT AS start1,
        |  (min(p1) - diag)::BIGINT AS start2,
        |  (max(p1) - min(p1) + 20)::BIGINT AS span_len
        |FROM runs GROUP BY id1, id2, diag, grp
        |HAVING max(p1) - min(p1) + 20 >= 40
        |ORDER BY id1, id2, start1, start2""".stripMargin) { (s, d) =>
      Dedup.sharedSubstringSpans(t(s, d, "documents"), "doc_id", "text",
          gramLen = 20, minSpan = 40, dfCap = 8L)
        .select(col("id1"), col("id2"), col("start1").cast("long").as("start1"),
          col("start2").cast("long").as("start2"),
          col("span_len").cast("long").as("span_len"))
        .orderBy("id1", "id2", "start1", "start2")
    },

    Q("q263_entity_resolution",
      // END-TO-END entity resolution: dirty records (every %10
      // customer gains a typo'd duplicate under id + 1e6: last char
      // dropped, balance drifted +1) → blocked fuzzy MATCH
      // (editDistancePairs d ≤ 1 within nation blocks — deletion
      // neighborhoods, never the quadratic) → transitive CLUSTERS
      // (dupClusters CC) → SURVIVORSHIP (golden record = source
      // preference BEFORE balance recency, so the original wins over
      // its higher-balance variant — precedence is load-bearing; field
      // merge takes max balance). The fixture's decorated names carry
      // the 9-digit key THREE times, so any two distinct customers sit
      // at levenshtein ≥ 3, any record vs another's variant at ≥ 2,
      // and exactly the (orig, variant) pairs match at 1 — which is
      // what makes the whole pipeline's output CLOSED FORM: the oracle
      // never matches, clusters, or merges at all.
      """SELECT c_custkey AS cluster,
        |  (CASE WHEN c_custkey % 10 = 0 THEN 2 ELSE 1 END)::BIGINT AS n_members,
        |  c_custkey AS golden_id,
        |  CAST(c_acctbal + CASE WHEN c_custkey % 10 = 0 THEN 1 ELSE 0 END
        |    AS DOUBLE) AS merged_bal,
        |  (CASE WHEN c_custkey % 10 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_variants
        |FROM customer ORDER BY cluster""".stripMargin) { (s, d) =>
      val c = t(s, d, "customer")
      val key9 = lpad(col("c_custkey").cast("string"), 9, "0")
      val base = c.select(col("c_custkey"),
        concat(col("c_name"), lit("~"), key9, key9).as("name"),
        col("c_nationkey").as("nk"), col("c_acctbal"))
      val orig = base.select(col("c_custkey").as("rec_id"), col("name"),
        col("nk"), col("c_acctbal").cast("double").as("bal"), lit(0).as("src"))
      val variants = base.filter(col("c_custkey") % 10 === 0)
        .select((col("c_custkey") + 1000000L).as("rec_id"),
          expr("substring(name, 1, length(name) - 1)").as("name"),
          col("nk"), (col("c_acctbal") + 1).cast("double").as("bal"),
          lit(1).as("src"))
      val recs = orig.unionByName(variants)
      val pairs = Dedup.editDistancePairs(recs, "rec_id", "name", maxDist = 1,
        blockCols = Seq("nk")).select("id1", "id2")
      val clusters = Dedup.dupClusters(pairs) // (id, cluster)
      val labeled = recs
        .join(clusters, recs("rec_id") === clusters("id"), "left")
        .select(coalesce(col("cluster"), col("rec_id")).as("cluster"),
          col("rec_id"), col("bal"), col("src"))
      labeled.groupBy("cluster")
        .agg(count(lit(1)).as("n_members"),
          max(struct((lit(1) - col("src")).as("pref"), col("bal"),
            (-col("rec_id")).as("nid"))).as("top"),
          max(col("bal")).as("merged_bal"),
          sum(col("src")).cast("long").as("n_variants"))
        .select(col("cluster"), col("n_members"),
          (-col("top.nid")).as("golden_id"), col("merged_bal"),
          col("n_variants"))
        .orderBy("cluster")
    },

    Q("q264_holt_smoothing",
      // HOLT double exponential smoothing (level + trend) per
      // event_type over hourly counts, α = 1/2, β = 1/4 —
      // TimeSeries.holtSmooth. Cross-engine float parity by IDENTICAL
      // IEEE trees in identical t-order: dyadic smoothing constants
      // (enforced), 1−α / 1−β as pre-computed exact literals, and the
      // oracle replays the recurrence step for step in a recursive CTE
      // (NOT list_reduce with struct state — DuckDB 1.0's lambda
      // clobbers accumulator fields mid-struct: a.l reads the freshly
      // written l inside the b expression; measured, not speculated).
      """WITH RECURSIVE h AS (
        |  SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr,
        |    count(*)::DOUBLE AS y
        |  FROM events GROUP BY 1, 2),
        |ser AS (SELECT event_type, array_agg(y ORDER BY hr) AS ys
        |        FROM h GROUP BY 1),
        |f AS (
        |  SELECT event_type, 1 AS i, len(ys) AS n, ys,
        |    ys[1]::DOUBLE AS l, 0.0::DOUBLE AS b
        |  FROM ser
        |  UNION ALL
        |  SELECT event_type, i + 1, n, ys,
        |    0.5::DOUBLE * ys[i + 1] + 0.5::DOUBLE * (l + b),
        |    0.25::DOUBLE * ((0.5::DOUBLE * ys[i + 1] + 0.5::DOUBLE * (l + b)) - l)
        |      + 0.75::DOUBLE * b
        |  FROM f WHERE i < n)
        |SELECT event_type, n::BIGINT AS n_points, l AS level, b AS trend,
        |  l + 3::DOUBLE * b AS forecast3
        |FROM f WHERE i = n ORDER BY event_type""".stripMargin) { (s, d) =>
      val hourly = t(s, d, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
        .agg(count(lit(1)).cast("double").as("y"))
      TimeSeries.holtSmooth(hourly, Seq("event_type"), "hr", "y",
          alpha = 0.5, beta = 0.25)
        .select(col("event_type"), col("n_points"), col("level"), col("trend"),
          (col("level") + lit(3.0) * col("trend")).as("forecast3"))
        .orderBy("event_type")
    },

    Q("q276_holt_winters_seasonal", {
      // HOLT-WINTERS additive triple smoothing (level + trend +
      // 24-slot seasonality) over hourly counts — the seasonal
      // completion of q264, same parity recipe: dyadic α/β/γ, one
      // pinned recurrence (seed l = y₁, b = 0, seasonals 0; pre-update
      // l,b in the seasonal step), identical IEEE trees in identical
      // t-order. The seasonal state is a FIXED 24-slot circular
      // buffer; the oracle updates it with DuckDB's indexed
      // list_transform inside the same recursive CTE (every element
      // ::DOUBLE — bare 0.0 literals would fold as DECIMAL and break
      // IEEE parity).
      val m = 24
      val zeros = Seq.fill(m)("0.0::DOUBLE").mkString("[", ", ", "]")
      val sPrev = s"ss[(i % $m) + 1]"
      val lNew = s"0.5::DOUBLE * (ys[i + 1] - $sPrev) + 0.5::DOUBLE * (l + b)"
      s"""WITH RECURSIVE h AS (
         |  SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr,
         |    count(*)::DOUBLE AS y
         |  FROM events GROUP BY 1, 2),
         |ser AS (SELECT event_type, array_agg(y ORDER BY hr) AS ys
         |        FROM h GROUP BY 1),
         |f AS (
         |  SELECT event_type, 1 AS i, len(ys) AS n, ys,
         |    ys[1]::DOUBLE AS l, 0.0::DOUBLE AS b, $zeros AS ss
         |  FROM ser
         |  UNION ALL
         |  SELECT event_type, i + 1, n, ys,
         |    $lNew,
         |    0.25::DOUBLE * (($lNew) - l) + 0.75::DOUBLE * b,
         |    list_transform(ss, (x, j) -> CASE WHEN j = (i % $m) + 1
         |      THEN 0.25::DOUBLE * (ys[i + 1] - l - b) + 0.75::DOUBLE * $sPrev
         |      ELSE x END)
         |  FROM f WHERE i < n)
         |SELECT event_type, n::BIGINT AS n_points, l AS level, b AS trend,
         |  ss[((n - 1) % $m) + 1] AS s_last,
         |  l + b + ss[(n % $m) + 1] AS forecast_next
         |FROM f WHERE i = n ORDER BY event_type""".stripMargin
    }) { (s, d) =>
      val hourly = t(s, d, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
        .agg(count(lit(1)).cast("double").as("y"))
      TimeSeries.holtWintersSmooth(hourly, Seq("event_type"), "hr", "y",
          alpha = 0.5, beta = 0.25, gamma = 0.25, m = 24)
        .orderBy("event_type")
    },

    Q("q277_interval_merge",
      // interval UNION per key (Intervals.mergeIntervals): shipping
      // activity spells [shipdate, shipdate + 1 + l_partkey % 5 days]
      // per order bucket, overlapping/touching spells merged into
      // maximal intervals. Integer epoch-day arithmetic end to end —
      // the sweep (running-max flag → running-sum group id → min/max
      // per group) replays exactly in SQL window functions. ~30 spells
      // of 1-5 days per key over six years: real merges AND real gaps.
      """WITH iv AS (
        |  SELECT l_orderkey % 2000 AS k,
        |    date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) AS s,
        |    date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE))
        |      + 1 + l_partkey % 5 AS e
        |  FROM lineitem),
        |dv AS (
        |  SELECT k, s, e, count(*) AS cnt FROM iv GROUP BY k, s, e),
        |f AS (
        |  SELECT k, s, e, cnt,
        |    CASE WHEN max(e) OVER w IS NULL OR s > max(e) OVER w
        |      THEN 1 ELSE 0 END AS nw
        |  FROM dv
        |  WINDOW w AS (PARTITION BY k ORDER BY s, e
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |g AS (
        |  SELECT k, s, e, cnt, sum(nw) OVER (PARTITION BY k ORDER BY s, e
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
        |  FROM f)
        |SELECT k, min(s)::BIGINT AS interval_start,
        |  max(e)::BIGINT AS interval_end, sum(cnt)::BIGINT AS n_source
        |FROM g GROUP BY k, grp
        |ORDER BY k, interval_start""".stripMargin) { (s, d) =>
      import graft.operators.Intervals
      val iv = t(s, d, "lineitem").select(
        (col("l_orderkey") % 2000).as("k"),
        Intervals.epochDays(col("l_shipdate")).cast("long").as("s"),
        (Intervals.epochDays(col("l_shipdate")).cast("long")
          + 1 + col("l_partkey") % 5).as("e"))
      Intervals.mergeIntervals(iv, Seq("k"), "s", "e")
        .orderBy("k", "interval_start")
    },

    Q("q278_interval_coverage",
      // the coverage summary over q277's merged intervals: per key the
      // merged-interval count, total covered days Σ(end − start) and
      // the largest inter-interval gap (NULL when one interval covers
      // the key — integer date arithmetic keeps all three exact).
      """WITH iv AS (
        |  SELECT l_orderkey % 2000 AS k,
        |    date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) AS s,
        |    date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE))
        |      + 1 + l_partkey % 5 AS e
        |  FROM lineitem),
        |dv AS (
        |  SELECT k, s, e FROM iv GROUP BY k, s, e),
        |f AS (
        |  SELECT k, s, e,
        |    CASE WHEN max(e) OVER w IS NULL OR s > max(e) OVER w
        |      THEN 1 ELSE 0 END AS nw
        |  FROM dv
        |  WINDOW w AS (PARTITION BY k ORDER BY s, e
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |g AS (
        |  SELECT k, s, e, sum(nw) OVER (PARTITION BY k ORDER BY s, e
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
        |  FROM f),
        |m AS (
        |  SELECT k, min(s) AS ivs, max(e) AS ive
        |  FROM g GROUP BY k, grp),
        |mg AS (
        |  SELECT k, ivs, ive,
        |    ivs - lag(ive) OVER (PARTITION BY k ORDER BY ivs) AS gap
        |  FROM m)
        |SELECT k, count(*)::BIGINT AS n_intervals,
        |  sum(ive - ivs)::BIGINT AS covered, max(gap)::BIGINT AS max_gap
        |FROM mg GROUP BY k ORDER BY k""".stripMargin) { (s, d) =>
      import graft.operators.Intervals
      val iv = t(s, d, "lineitem").select(
        (col("l_orderkey") % 2000).as("k"),
        Intervals.epochDays(col("l_shipdate")).cast("long").as("s"),
        (Intervals.epochDays(col("l_shipdate")).cast("long")
          + 1 + col("l_partkey") % 5).as("e"))
      Intervals.coverage(iv, Seq("k"), "s", "e")
        .select(col("k"), col("n_intervals"), col("covered"), col("max_gap"))
        .orderBy("k")
    },

    Q("q279_cusum_changepoint",
      // tabular CUSUM (Page 1954) per event_type over ts-ordered values
      // — the SPC drift detector of the reference's industrial domain.
      // No dyadic constants needed (adds/max only), so parity is just
      // identical IEEE trees in identical t-order; alarms reset both
      // sums (independent detections). The oracle folds the identical
      // recurrence in a recursive CTE, computing the raw sums once in
      // a subquery so alarm test and post-alarm reset read the SAME
      // expressions the engine evaluates.
      """WITH RECURSIVE ser AS (
        |  SELECT event_type,
        |    array_agg(value ORDER BY ts, value) AS ys
        |  FROM events GROUP BY 1),
        |f AS (
        |  SELECT event_type, 0 AS i, len(ys) AS n, ys,
        |    0.0::DOUBLE AS sp, 0.0::DOUBLE AS sn,
        |    0::BIGINT AS na, 0::BIGINT AS fa
        |  FROM ser
        |  UNION ALL
        |  SELECT event_type, i + 1, n, ys,
        |    CASE WHEN al THEN 0.0::DOUBLE ELSE spr END,
        |    CASE WHEN al THEN 0.0::DOUBLE ELSE snr END,
        |    na + CASE WHEN al THEN 1 ELSE 0 END,
        |    CASE WHEN fa > 0 THEN fa WHEN al THEN i + 1 ELSE 0 END
        |  FROM (
        |    SELECT event_type, i, n, ys, na, fa, spr, snr,
        |      (spr > 500.0::DOUBLE OR snr > 500.0::DOUBLE) AS al
        |    FROM (
        |      SELECT event_type, i, n, ys, na, fa,
        |        greatest(0.0::DOUBLE,
        |          sp + (ys[i + 1] - 50.0::DOUBLE - 25.0::DOUBLE)) AS spr,
        |        greatest(0.0::DOUBLE,
        |          sn + (50.0::DOUBLE - ys[i + 1] - 25.0::DOUBLE)) AS snr
        |      FROM f)) WHERE i < n)
        |SELECT event_type, n::BIGINT AS n_points, na AS n_alarms,
        |  fa AS first_alarm_i, sp AS sp_final, sn AS sn_final
        |FROM f WHERE i = n ORDER BY event_type""".stripMargin) { (s, d) =>
      // the engine sorts struct(t, y) — tied timestamps break by y, so
      // the oracle's ORDER BY ts, value is the same total order
      TimeSeries.cusum(t(s, d, "events"), Seq("event_type"), "ts", "value",
          target = 50.0, slack = 25.0, threshold = 500.0)
        .orderBy("event_type")
    },

    Q("q280_jaro_winkler_linkage",
      // Jaro-Winkler candidate scoring over brand-blocked part-name
      // pairs — the record-linkage scorer beside q263's bounded edit
      // distance. The graft expression is pinned to DuckDB's exact
      // parameterization (p=0.1, prefix<=4, boost iff jaro>0.7,
      // empty→0 — probed, not assumed), so the oracle IS DuckDB's
      // built-in jaro_winkler_similarity. Blocking bounds the pair set
      // (the expression scores candidates, never generates them).
      """SELECT a.p_partkey AS id1, b.p_partkey AS id2,
        |  round(jaro_winkler_similarity(a.p_name, b.p_name), 6) AS jw
        |FROM part a JOIN part b
        |  ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
        |WHERE jaro_winkler_similarity(a.p_name, b.p_name) >= 0.8
        |ORDER BY id1, id2""".stripMargin) { (s, d) =>
      // VERDICT r14 wrong #1 fix: the former plan self-joined part on
      // p_brand alone and scored EVERY within-brand id pair — O(block²)
      // Jaro-Winkler evaluations, 10 000× more scorer work at 100× data.
      // p_name is vocabulary-bound (64 distinct values at every SF), so
      // [[Dedup.linkageByValue]] scores each unordered VALUE pair once
      // (≤ V²/2 ≈ 2k evaluations, flat across SFs) and expands back to
      // id pairs through broadcast equi-joins — exact same result set,
      // same oracle, scorer cost decoupled from corpus size. (The r14
      // length-bound prune anti-lesson, NOTES 75, still applies to the
      // scorer itself; it is now moot here because the scorer input is
      // the dictionary, not the corpus.)
      val p = t(s, d, "part").select("p_partkey", "p_name", "p_brand")
      graft.operators.Dedup.linkageByValue(
          p, "p_partkey", "p_name", Seq("p_brand"),
          GraftFunctions.jaroWinkler, threshold = 0.8)
        .select(col("id1"), col("id2"), round(col("score"), 6).as("jw"))
        .orderBy("id1", "id2")
    },

    Q("q281_kmv_distinct",
      // KMV bottom-k distinct sketch (Beyer et al. 2007) — the
      // DETERMINISTIC approximate-distinct the HLL family can't be:
      // the signature (k smallest distinct md5-prefix hashes) is a
      // pure function of the value SET, so construction AND the
      // (k−1)·2⁶⁰/kth_min estimate replay exactly in SQL — no
      // merge-topology envelope, plain hash equality. k = 256 over
      // ~thousands of distinct parts per supplier bucket = real
      // estimation territory (n_sig = k everywhere).
      """WITH h AS (
        |  SELECT l_suppkey % 10 AS g,
        |    ('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15))::BIGINT AS h
        |  FROM lineitem),
        |s AS (
        |  SELECT g, list_sort(list(DISTINCT h))[1:256] AS kmv FROM h GROUP BY g)
        |SELECT g, len(kmv)::BIGINT AS n_sig,
        |  round(CASE WHEN len(kmv) < 256 THEN len(kmv)::DOUBLE
        |    ELSE 255.0 * 1152921504606846976.0 / kmv[256]::DOUBLE END, 2) AS est
        |FROM s ORDER BY g""".stripMargin) { (s, d) =>
      val sigs = Sketches.kmvSignature(
        t(s, d, "lineitem").select((col("l_suppkey") % 10).as("g"),
          col("l_partkey")), "g", "l_partkey", k = 256)
      Sketches.kmvDistinctEstimate(sigs, "g", k = 256).orderBy("g")
    },

    Q("q282_kmv_setops",
      // set-operation estimates from MERGED KMV signatures: for every
      // group pair, merge = k smallest of the union (associative,
      // idempotent — the shard/stream merge rule), Jaccard ≈ members
      // of the merged signature present in BOTH sides / its size,
      // union from the merged kth-min. Integer work end to end except
      // the two final divisions — exact SQL replay, q281's point made
      // compositional.
      """WITH h AS (
        |  SELECT l_suppkey % 10 AS g,
        |    ('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15))::BIGINT AS h
        |  FROM lineitem),
        |s AS (
        |  SELECT g, list_sort(list(DISTINCT h))[1:256] AS kmv FROM h GROUP BY g),
        |m AS (
        |  SELECT a.g AS ga, b.g AS gb, a.kmv AS ka, b.kmv AS kb,
        |    list_sort(list_distinct(list_concat(a.kmv, b.kmv)))[1:256] AS mk
        |  FROM s a JOIN s b ON a.g < b.g)
        |SELECT ga, gb, len(mk)::BIGINT AS m_size,
        |  len(list_intersect(list_intersect(mk, ka), kb))::BIGINT AS in_both,
        |  round(len(list_intersect(list_intersect(mk, ka), kb))::DOUBLE
        |    / len(mk)::DOUBLE, 6) AS jaccard_est,
        |  round(CASE WHEN len(mk) < 256 THEN len(mk)::DOUBLE
        |    ELSE 255.0 * 1152921504606846976.0 / mk[256]::DOUBLE END, 2) AS union_est
        |FROM m ORDER BY ga, gb""".stripMargin) { (s, d) =>
      val sigs = Sketches.kmvSignature(
        t(s, d, "lineitem").select((col("l_suppkey") % 10).as("g"),
          col("l_partkey")), "g", "l_partkey", k = 256)
      Sketches.kmvSetOps(sigs, "g", k = 256).orderBy("ga", "gb")
    },

    Q("q267_hashed_features",
      // the HASHING TRICK (Weinberger 2009, Classifier.hashedFeatures):
      // vocabulary-free signed-bucket featurization — each token lands
      // in hash-mod-64 with a sign from the next hash bit, so
      // collisions cancel in expectation and nothing vocabulary-sized
      // is ever built or broadcast (the 100 TB property). Pure Column
      // pipeline over the shared md5-prefix hash, so the oracle IS the
      // same construction in SQL — exact signed counts, cell for cell.
      s"""WITH tk AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
        |  FROM documents),
        |h AS (
        |  SELECT doc_id, ${sqlHash60("tok")} AS h
        |  FROM tk WHERE length(tok) > 0)
        |SELECT doc_id, h % 64 AS bucket,
        |  sum(CASE WHEN (h // 64) % 2 = 0 THEN 1 ELSE -1 END)::BIGINT AS wt
        |FROM h GROUP BY 1, 2
        |HAVING sum(CASE WHEN (h // 64) % 2 = 0 THEN 1 ELSE -1 END) <> 0
        |ORDER BY doc_id, bucket""".stripMargin) { (s, d) =>
      import graft.operators.Classifier
      Classifier.hashedFeatures(t(s, d, "documents"), "doc_id", "text",
          nBuckets = 64)
        .orderBy("doc_id", "bucket")
    },

    Q("q268_bson_image_pipeline",
      // END-TO-END multimodal ingest across TWO of this round's codecs:
      // BSON containers (the reference's egress shape) carry QOI image
      // blobs as binary elements; the engine walks the BSON grammar,
      // lifts (doc_id, img), decodes QOI through the sniffing dHash,
      // and bands near-dup pairs — one pipeline, three decoders deep.
      // Images repeat on doc_id % 97 (the re-upload scenario), so
      // same-src pairs land at hamming 0. The oracle touches NONE of
      // the byte formats: every hash derives from the pixel formula
      // (BSON binary round-trip and QOI decode are lossless — that IS
      // the claim), pairs brute-forced at hamming ≤ 3 where banding is
      // pigeonhole-exact.
      """WITH dims AS (
        |  SELECT doc_id, doc_id % 97 AS src,
        |    8 + (doc_id % 97) % 9 AS w, 8 + (doc_id % 97) % 7 AS h
        |  FROM documents),
        |cells AS (
        |  SELECT d.doc_id, d.src, d.w, gx.gx, gy.gy,
        |    ((gy.gy * d.h) // 8) * d.w + ((gx.gx * d.w) // 9) AS i
        |  FROM dims d,
        |    (SELECT unnest(generate_series(0, 8)) AS gx) gx,
        |    (SELECT unnest(generate_series(0, 7)) AS gy) gy),
        |lum AS (
        |  SELECT doc_id, gx, gy,
        |    299 * ((3 * src + 7 * i) % 256)
        |    + 587 * ((2 * src + 5 * i) % 256)
        |    + 114 * ((src + 3 * i) % 256) AS luma
        |  FROM cells),
        |bits AS (
        |  SELECT a.doc_id, a.gy * 8 + a.gx AS bit
        |  FROM lum a JOIN lum b
        |    ON b.doc_id = a.doc_id AND b.gy = a.gy AND b.gx = a.gx + 1
        |  WHERE a.gx < 8 AND a.luma < b.luma),
        |sig AS (
        |  SELECT d.doc_id,
        |    coalesce(bit_or(CASE WHEN bit = 63 THEN (-9223372036854775807 - 1)::BIGINT
        |                         ELSE (1::BIGINT << bit::INT) END), 0) AS dhash
        |  FROM dims d LEFT JOIN bits USING (doc_id)
        |  GROUP BY d.doc_id)
        |SELECT a.doc_id AS id1, b.doc_id AS id2,
        |  bit_count(xor(a.dhash, b.dhash))::BIGINT AS hamming
        |FROM sig a JOIN sig b
        |  ON a.doc_id < b.doc_id AND bit_count(xor(a.dhash, b.dhash)) <= 3
        |ORDER BY id1, id2""".stripMargin) { (s, d) =>
      import graft.operators.{Bson, Multimodal, Qoi}
      import graft.operators.Bson.BsonField
      val fields = Seq(BsonField("doc_id", "int64"), BsonField("img", "binary"))
      val mkBson = udf { ids: Seq[Long] =>
        Bson.writeStream(fields, ids.map { id =>
          val src = id % 97
          val w = 8 + (src % 9).toInt; val h = 8 + (src % 7).toInt
          Map[String, Any]("doc_id" -> id,
            "img" -> Qoi.encode(w, h, 3, Multimodal.syntheticPixels(src, w, h)))
        })
      }
      val containers = t(s, d, "documents")
        .groupBy((col("doc_id") % 29).as("file_id"))
        .agg(array_sort(collect_list(col("doc_id"))).as("ids"))
        .select(col("file_id"), mkBson(col("ids")).as("blob"))
      val imgs = Bson.records(containers, "file_id", "blob", fields)
        .select(col("doc_id"), col("img").as("blob"))
      val sigs = Multimodal.imageDHashes(imgs, s)
      Dedup.simhashPairs(sigs, "doc_id", "dhash",
          nBands = 4, maxHamming = 3, sigBits = 64)
        .orderBy("id1", "id2")
    },

    Q("q269_count_min",
      // COUNT-MIN sketch (Cormode & Muthukrishnan 2005,
      // Sketches.countMinSketch): 4 × 512 counters summarize the whole
      // token stream in fixed memory, sketches merge by cell-wise
      // addition (SketchesSpec), and — unlike the HLL family — the
      // construction is deterministic integers over the shared
      // md5-prefix hash, so the ORACLE REBUILDS THE SKETCH ITSELF and
      // every estimate hash-matches exactly. Output pairs each
      // distinct token's exact count with its (one-sided, est ≥ exact)
      // sketch estimate.
      """WITH tk AS (
        |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS tok
        |  FROM documents),
        |tok AS (SELECT tok FROM tk WHERE length(tok) > 0),
        |rs AS (SELECT unnest(generate_series(0, 3)) AS r),
        |sk AS (
        |  SELECT r,
        |    ('0x' || substr(md5(r::VARCHAR || ':' || tok), 1, 15))::BIGINT % 512 AS bucket,
        |    count(*) AS cnt
        |  FROM tok, rs GROUP BY 1, 2),
        |keys AS (SELECT DISTINCT tok FROM tok),
        |probes AS (
        |  SELECT k.tok, rs.r,
        |    ('0x' || substr(md5(rs.r::VARCHAR || ':' || k.tok), 1, 15))::BIGINT % 512 AS bucket
        |  FROM keys k, rs),
        |est AS (
        |  SELECT p.tok, min(coalesce(s.cnt, 0)) AS est
        |  FROM probes p LEFT JOIN sk s ON s.r = p.r AND s.bucket = p.bucket
        |  GROUP BY 1),
        |ex AS (SELECT tok, count(*) AS exact FROM tok GROUP BY 1)
        |SELECT ex.tok, exact::BIGINT AS exact, est::BIGINT AS est
        |FROM ex JOIN est USING (tok) ORDER BY tok""".stripMargin) { (s, d) =>
      import graft.operators.Sketches
      val toks = t(s, d, "documents")
        .select(explode(Dedup.tokens(col("text"))).as("tok"))
        .filter(length(col("tok")) > 0)
      // ONE tokenize pass (r19): the raw token stream was scanned three
      // times (sketch build, distinct keys, exact counts). The exact
      // per-token counts determine all three — the sketch cell is the
      // sum of its tokens' exact counts (countMinSketch's weighted
      // form), the key set is the counted table's keys, and the exact
      // column is carried through. Not persisted: a persist() here
      // would outlive the query in the session's cache. The sketch and
      // key consumers share one shuffle through exchange reuse; the
      // join side (an inferred not-null filter pushed below the count)
      // recounts, measured no slower than persisting (NOTES.md).
      val exact = toks.groupBy("tok").agg(count(lit(1)).as("exact"))
      val sk = Sketches.countMinSketch(exact, "tok", depth = 4, width = 512,
        weightCol = Some("exact"))
      Sketches.countMinEstimate(sk, exact.select("tok"), "tok",
          depth = 4, width = 512)
        .join(exact, Seq("tok"))
        .select(col("tok"), col("exact"), col("est"))
        .orderBy("tok")
    },

    Q("q270_txtable_timestamp_travel",
      // TIMESTAMP AS OF time travel (TxTable.readAsOf): three commits
      // land with stamped wall-clocks 1e6/2e6/3e6 ms
      // (TxTable.stampCommitTime — the mtime substrate history reads),
      // and the read AS OF 2.5e6 must resolve to the MIDDLE state:
      // base prices with only the %13 correction applied, the %7
      // correction (commit 3) invisible. Boundary semantics (at-commit
      // inclusive), monotonic adjustment of regressed clocks, and the
      // pre-history refusal are TxTableRestoreSpec's; this gate pins
      // the resolved CONTENT against a recompute that never saw v2.
      """WITH v1 AS (
        |  SELECT o_orderstatus, o_orderkey,
        |    CAST(o_totalprice +
        |      CASE WHEN o_orderkey % 13 = 0 THEN 100 ELSE 0 END
        |      AS DECIMAL(18,2)) AS p
        |  FROM orders)
        |SELECT o_orderstatus, count(*)::BIGINT AS n_rows,
        |  CAST(CAST(sum(p) AS DECIMAL(18,2)) AS DOUBLE) AS total
        |FROM v1 GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      import graft.streaming.TxTable
      val table = Q.scratchDir("graft-q270") + "/orders_tx"
      val keys = Seq("o_orderstatus", "o_orderkey")
      val base = t(s, d, "orders").select(
        col("o_orderstatus"), col("o_orderkey"),
        col("o_totalprice").cast("decimal(18,2)").as("p"))
      TxTable.mergeLatest(s, base.withColumn("seq", lit(0L)),
        table, "o_orderstatus", keys, Seq("seq"))
      TxTable.mergeLatest(s,
        base.filter(col("o_orderkey") % 13 === 0)
          .withColumn("p", (col("p") + 100).cast("decimal(18,2)"))
          .withColumn("seq", lit(1L)),
        table, "o_orderstatus", keys, Seq("seq"))
      TxTable.mergeLatest(s,
        base.filter(col("o_orderkey") % 7 === 0)
          .withColumn("p", (col("p") + 1000).cast("decimal(18,2)"))
          .withColumn("seq", lit(2L)),
        table, "o_orderstatus", keys, Seq("seq"))
      TxTable.stampCommitTime(table, 0L, 1000000L)
      TxTable.stampCommitTime(table, 1L, 2000000L)
      TxTable.stampCommitTime(table, 2L, 3000000L)
      TxTable.readAsOf(s, table, 2500000L).get
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("p")).cast("decimal(18,2)").cast("double").as("total"))
        .orderBy("o_orderstatus")
    },

    Q("q284_theil_sen_trend",
      // Theil–Sen robust trend per event_type over hourly counts: the
      // median of all pairwise slopes — outlier-immune where least
      // squares is one-spike-fragile. Fully deterministic: slopes are
      // IEEE divisions over exact epoch-second deltas, the median an
      // order statistic (Spark `percentile(0.5)` and DuckDB `median`
      // both interpolate the middle pair — the proven q-family
      // pairing), so the oracle replays pair set, slopes and median.
      // Hourly stamps are unique per key, so `a.hr < b.hr` is exactly
      // the engine's sorted i < j with no equal-t pairs to skip.
      """WITH h AS (
        |  SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr,
        |    count(*)::DOUBLE AS y
        |  FROM events GROUP BY 1, 2),
        |p AS (
        |  SELECT a.event_type,
        |    (b.y - a.y) / (date_part('epoch', b.hr) - date_part('epoch', a.hr)) AS s
        |  FROM h a JOIN h b ON a.event_type = b.event_type AND a.hr < b.hr)
        |SELECT event_type, count(*)::BIGINT AS n_pairs,
        |  round(median(s), 6) AS slope
        |FROM p GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val hourly = t(s, d, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
        .agg(count(lit(1)).cast("double").as("y"))
      TimeSeries.theilSen(hourly, Seq("event_type"), "hr", "y")
        .select(col("event_type"), col("n_pairs"),
          round(col("slope"), 6).as("slope"))
        .orderBy("event_type")
    },

    Q("q285_theil_sen_selection",
      // q284's robust trend selected the SCALE way (VERDICT r14 wrong
      // #3): the O(1)-executor-memory counting-selection path — slopes
      // map to order-preserving long bits, Selection.kthSmallestByGroup
      // bisects the bit domain regenerating the O(n²) pair set per
      // round, nothing buffered or cached. EXACT lower median (k =
      // ⌈n/2⌉, no interpolation — deterministic under ties because the
      // k-th VALUE is unique even when tie order is not), so the oracle
      // replays it as a row_number order statistic over the identical
      // pair set and IEEE slopes.
      """WITH h AS (
        |  SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr,
        |    count(*)::DOUBLE AS y
        |  FROM events GROUP BY 1, 2),
        |p AS (
        |  SELECT a.event_type,
        |    (b.y - a.y) / (date_part('epoch', b.hr) - date_part('epoch', a.hr)) AS s
        |  FROM h a JOIN h b ON a.event_type = b.event_type AND a.hr < b.hr),
        |r AS (
        |  SELECT event_type, s,
        |    row_number() OVER (PARTITION BY event_type ORDER BY s) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM p)
        |SELECT event_type, n::BIGINT AS n_pairs, round(s, 6) AS slope
        |FROM r WHERE rn = (n + 1) // 2 ORDER BY event_type""".stripMargin) { (s, d) =>
      val hourly = t(s, d, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
        .agg(count(lit(1)).cast("double").as("y"))
      TimeSeries.theilSenSelection(hourly, Seq("event_type"), "hr", "y")
        .select(col("event_type"), col("n_pairs"),
          round(col("slope"), 6).as("slope"))
        .orderBy("event_type")
    },

    Q("q286_linkage_blocked_highcard",
      // High-cardinality Jaro-Winkler linkage (VERDICT r15 task #1) —
      // the path linkageByValue's 4096-distinct refusal names, now
      // built: Dedup.linkageBlocked generates candidates from
      // (prefix-k OR shifted-prefix) × length-band equi-joins, scores
      // each distinct VALUE pair once, expands to id pairs. Fixture: 8
      // deterministic name variants per order key — ~111k distinct
      // values at sf0.01, ~1.11M at sf0.1, cardinality GROWING with the
      // corpus (prefix entropy grows too: c1..c4 are mixed-radix digits
      // of key/3, so blocking stays sub-quadratic at every SF). The
      // variant set exercises every contract arm: suffix/append edits
      // and a position-5 substitution (pass-1 positives), a
      // first-character substitution (pass-2-ONLY positive — naive
      // prefix blocking misses it), a position-4 substitution (a missed
      // positive BY the documented recall contract — absent from both
      // engines identically), plus cross-key near-collisions and
      // value-level duplicates (the equal-value arm). The oracle
      // replays fixture, blocking rule, scoring, and expansion verbatim
      // in SQL; per-pair scores round to 6dp before aggregation (q280
      // pinned graft/DuckDB Jaro-Winkler parity at that precision).
      """WITH ok AS (SELECT o_orderkey AS key FROM orders),
        |g AS (SELECT key, key // 3 AS g FROM ok),
        |base AS (
        |  SELECT key,
        |    substr('klmnopqrstuvwxy', CAST(g % 15 AS INT) + 1, 1) ||
        |    substr('abcdefghijklmnopqrstuvwxyz', CAST((g // 15) % 26 AS INT) + 1, 1) ||
        |    substr('abcdefghijklmnopqrstuvwxyz', CAST((g // 390) % 26 AS INT) + 1, 1) ||
        |    substr('abcdefghijklmnopqrstuvwxyz', CAST((g // 10140) % 26 AS INT) + 1, 1) ||
        |    translate(reverse(lpad(CAST(key AS VARCHAR), 7, '0')),
        |      '0123456789', 'abcdefghij') AS b
        |  FROM g),
        |names AS (
        |  SELECT key * 8 + j AS rid,
        |    CASE j WHEN 0 THEN b WHEN 1 THEN b || 's'
        |      WHEN 2 THEN substr(b,1,4) ||
        |        translate(substr(b,5,1),'abcdefghij','bcdefghija') || substr(b,6)
        |      WHEN 3 THEN 'z' || substr(b,2)
        |      WHEN 4 THEN b || 'qq'
        |      WHEN 5 THEN substr(b,1,10)
        |      WHEN 6 THEN substr(b,1,10) || 'z'
        |      WHEN 7 THEN substr(b,1,3) ||
        |        translate(substr(b,4,1),
        |          'abcdefghijklmnopqrstuvwxyz','bcdefghijklmnopqrstuvwxyza') ||
        |        substr(b,5) END AS name
        |  FROM base, (SELECT unnest(range(8)) AS j)),
        |vals AS (SELECT DISTINCT name AS v FROM names),
        |keyed AS (
        |  SELECT v, length(v) AS len, p,
        |    CASE p WHEN 1 THEN substr(v,1,4) ELSE substr(v,2,4) END AS pfx
        |  FROM vals, (SELECT unnest([1,2]) AS p)),
        |cand AS (
        |  SELECT DISTINCT a.v AS v1, b.v AS v2
        |  FROM keyed a JOIN keyed b ON a.p = b.p AND a.pfx = b.pfx
        |  WHERE a.v < b.v AND abs(a.len - b.len) <= 2),
        |scored AS (
        |  SELECT v1, v2, round(jaro_winkler_similarity(v1, v2), 6) AS jw
        |  FROM cand WHERE jaro_winkler_similarity(v1, v2) >= 0.9),
        |idpairs AS (
        |  SELECT least(a.rid, b.rid) AS id1, greatest(a.rid, b.rid) AS id2, s.jw
        |  FROM scored s JOIN names a ON a.name = s.v1 JOIN names b ON b.name = s.v2
        |  UNION ALL
        |  SELECT a.rid, b.rid, 1.0::DOUBLE AS jw
        |  FROM names a JOIN names b ON a.name = b.name AND a.rid < b.rid)
        |SELECT CAST(id1 % 8 AS BIGINT) AS ja, CAST(id2 % 8 AS BIGINT) AS jb,
        |  count(*)::BIGINT AS n_pairs, round(avg(jw), 4) AS avg_jw,
        |  min(jw) AS min_jw, max(jw) AS max_jw
        |FROM idpairs GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      val lower = "abcdefghijklmnopqrstuvwxyz"
      val names = t(s, d, "orders")
        .select(col("o_orderkey").cast("long").as("key"))
        .withColumn("g", expr("key div 3"))
        .withColumn("b", concat(
          expr("substring('klmnopqrstuvwxy', cast(g % 15 as int) + 1, 1)"),
          expr(s"substring('$lower', cast((g div 15) % 26 as int) + 1, 1)"),
          expr(s"substring('$lower', cast((g div 390) % 26 as int) + 1, 1)"),
          expr(s"substring('$lower', cast((g div 10140) % 26 as int) + 1, 1)"),
          translate(reverse(lpad(col("key").cast("string"), 7, "0")),
            "0123456789", "abcdefghij")))
        .select(col("key"), posexplode(array(
          col("b"),
          concat(col("b"), lit("s")),
          concat(substring(col("b"), 1, 4),
            translate(substring(col("b"), 5, 1), "abcdefghij", "bcdefghija"),
            expr("substring(b, 6)")),
          concat(lit("z"), expr("substring(b, 2)")),
          concat(col("b"), lit("qq")),
          substring(col("b"), 1, 10),
          concat(substring(col("b"), 1, 10), lit("z")),
          concat(substring(col("b"), 1, 3),
            translate(substring(col("b"), 4, 1), lower, lower.tail + lower.head),
            expr("substring(b, 5)")))).as(Seq("j", "name")))
        .select((col("key") * 8 + col("j")).as("rid"), col("name"))
      // k pinned to 4: the oracle above replays the k=4 blocking rule
      // verbatim (prefixes substr(v,1,4) / substr(v,2,4)); the operator's
      // DEFAULT is auto-sized k (VERDICT r16 task #3), which at sf1's
      // 11.1M-value dictionary picks k=5 and must NOT silently change
      // this query's replayed pair set.
      Dedup.linkageBlocked(names, "rid", "name",
          GraftFunctions.jaroWinkler, threshold = 0.9, k = 4)
        .select((col("id1") % 8).as("ja"), (col("id2") % 8).as("jb"),
          round(col("score"), 6).as("jw"))
        .groupBy("ja", "jb")
        .agg(count(lit(1)).as("n_pairs"), round(avg(col("jw")), 4).as("avg_jw"),
          min(col("jw")).as("min_jw"), max(col("jw")).as("max_jw"))
        .orderBy("ja", "jb")
    },

    Q("q283_txtable_key_history",
      // per-key change TRAJECTORY across retained history
      // (TxTable.keyHistory — the "when did this tag change, from what
      // to what" audit): the q270 three-commit fixture, trajectories of
      // the o_orderkey % 91 = 0 keys. The oracle derives every key's
      // expected CDF rows CLOSED-FORM from the base table: insert at
      // v0; %13 keys update (+100) at v1; %7 keys REPLACE with base+1000 at v2
      // (the merge overwrites, it does not accumulate) — pre/postimage pairs exactly
      // as the merged-view diff emits them.
      """WITH k AS (
        |  SELECT o_orderkey,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS p0,
        |    CAST(o_totalprice +
        |      CASE WHEN o_orderkey % 13 = 0 THEN 100 ELSE 0 END
        |      AS DECIMAL(18,2)) AS p1
        |  FROM orders WHERE o_orderkey % 91 = 0)
        |SELECT o_orderkey, 0::BIGINT AS v, 'insert' AS change_type,
        |  CAST(p0 AS DOUBLE) AS p FROM k
        |UNION ALL SELECT o_orderkey, 1, 'update_preimage', CAST(p0 AS DOUBLE)
        |  FROM k WHERE o_orderkey % 13 = 0
        |UNION ALL SELECT o_orderkey, 1, 'update_postimage', CAST(p1 AS DOUBLE)
        |  FROM k WHERE o_orderkey % 13 = 0
        |UNION ALL SELECT o_orderkey, 2, 'update_preimage', CAST(p1 AS DOUBLE)
        |  FROM k WHERE o_orderkey % 7 = 0
        |UNION ALL SELECT o_orderkey, 2, 'update_postimage',
        |  CAST(CAST(p0 + 1000 AS DECIMAL(18,2)) AS DOUBLE)
        |  FROM k WHERE o_orderkey % 7 = 0
        |ORDER BY o_orderkey, v, change_type""".stripMargin) { (s, d) =>
      import graft.streaming.TxTable
      val table = Q.scratchDir("graft-q283") + "/orders_tx"
      val keys = Seq("o_orderstatus", "o_orderkey")
      val base = t(s, d, "orders").select(
        col("o_orderstatus"), col("o_orderkey"),
        col("o_totalprice").cast("decimal(18,2)").as("p"))
      TxTable.mergeLatest(s, base.withColumn("seq", lit(0L)),
        table, "o_orderstatus", keys, Seq("seq"))
      TxTable.mergeLatest(s,
        base.filter(col("o_orderkey") % 13 === 0)
          .withColumn("p", (col("p") + 100).cast("decimal(18,2)"))
          .withColumn("seq", lit(1L)),
        table, "o_orderstatus", keys, Seq("seq"))
      TxTable.mergeLatest(s,
        base.filter(col("o_orderkey") % 7 === 0)
          .withColumn("p", (col("p") + 1000).cast("decimal(18,2)"))
          .withColumn("seq", lit(2L)),
        table, "o_orderstatus", keys, Seq("seq"))
      TxTable.keyHistory(s, table, "o_orderkey",
          col("o_orderkey") % 91 === 0, compareCols = Seq("p"), keys = keys,
          order = Seq("seq"))
        .select(col("o_orderkey"), col("_commit_version").as("v"),
          col("change_type"), col("p").cast("double").as("p"))
        .orderBy("o_orderkey", "v", "change_type")
    },

    Q("q271_orc_roundtrip",
      // ORC — the one Spark-native columnar format the inventory had
      // not exercised (warehouses hand exactly this kind of data over):
      // lineitem round-trips through an ORC write (snappy, partitioned
      // by returnflag) and the aggregate runs on the ORC READ path —
      // predicate pushdown and column pruning included (PlanAuditSpec
      // asserts the scan shape). The oracle reads the source parquet:
      // equality proves the round trip preserved every row and value.
      """SELECT l_returnflag, count(*)::BIGINT AS n_rows,
        |  CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
        |  CAST(CAST(sum(l_extendedprice) AS DECIMAL(18,2)) AS DOUBLE) AS revenue
        |FROM lineitem WHERE l_discount >= 0.05
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      val dir = Q.scratchDir("graft-q271") + "/lineitem_orc"
      t(s, d, "lineitem")
        .select("l_returnflag", "l_quantity", "l_extendedprice", "l_discount")
        .write.mode("overwrite").option("compression", "snappy")
        .partitionBy("l_returnflag").orc(dir)
      s.read.orc(dir)
        .filter(col("l_discount") >= 0.05)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_quantity")).cast("long").as("sum_qty"),
          sum(col("l_extendedprice")).cast("decimal(18,2)").cast("double")
            .as("revenue"))
        .orderBy("l_returnflag")
    },

    Q("q272_isotonic_calibration",
      // ISOTONIC calibration (Zadrozny & Elkan 2002,
      // Classifier.isotonicCalibrate): raw quality scores → honest
      // monotone probabilities via PAVA's fit, computed through the
      // minimax closed form (max_{k≤i} min_{j≥i} range-avg) — no
      // sequential pooling loop, just prefix sums + an O(bins²) range
      // join + a suffix-min window. The fixture's labels follow
      // P(label|score) ≈ score/10 with deterministic integer noise, so
      // real pooling happens; every fitted value is ONE division of
      // exact integer sums — bit-identical cross-engine.
      """WITH s AS (
        |  SELECT least(9, n_chars // 100) AS score,
        |    CASE WHEN (doc_id * 7) % 10 < least(9, n_chars // 100)
        |         THEN 1 ELSE 0 END AS label
        |  FROM documents),
        |b AS (SELECT score, count(*) AS w, sum(label) AS sy FROM s GROUP BY 1),
        |r AS (SELECT score, w, sy,
        |    row_number() OVER (ORDER BY score) AS i,
        |    sum(w) OVER (ORDER BY score) AS cw,
        |    sum(sy) OVER (ORDER BY score) AS csy
        |  FROM b),
        |p AS (SELECT kk.i AS k, jj.i AS j,
        |    (jj.csy - (kk.csy - kk.sy))::DOUBLE / (jj.cw - (kk.cw - kk.w)) AS a
        |  FROM r kk JOIN r jj ON kk.i <= jj.i),
        |sm AS (SELECT k, j, min(a) OVER (PARTITION BY k ORDER BY j DESC) AS m
        |       FROM p),
        |fit AS (SELECT j AS i, max(m) AS p_cal FROM sm GROUP BY 1)
        |SELECT r.score AS score, r.w::BIGINT AS n, fit.p_cal AS p_cal
        |FROM r JOIN fit ON fit.i = r.i ORDER BY score""".stripMargin) { (s, d) =>
      import graft.operators.Classifier
      val samples = t(s, d, "documents").select(
        least(lit(9L), expr("n_chars div 100")).as("score"),
        when((col("doc_id") * 7) % 10 <
          least(lit(9L), expr("n_chars div 100")), 1L).otherwise(0L).as("label"))
      Classifier.isotonicCalibrate(samples, "score", "label")
        .orderBy("score")
    },

    Q("q273_dominant_direction", {
      // DOMINANT DIRECTION of the embedding corpus (the top principal
      // component of the uncentered second moment — the vector
      // "all-but-the-top" post-processing removes) by INTEGER power
      // iteration (LinearAlgebra.dominantDirection): fixed dyadic
      // quantization grid, exact integer matvecs (order-independent
      // sums — the property float matvecs can never have), and
      // arithmetic-shift rescaling whose shift count comes from the
      // binary length of max|w| — every round replays bit for bit in
      // SQL, which is exactly what this oracle does (12 static rounds).
      val rounds = 12
      val steps = (1 to rounds).map { r =>
        s"""w$r AS MATERIALIZED (
           |  SELECT c.i, CAST(sum(c.m * p.v) AS BIGINT) AS w
           |  FROM cells c JOIN v${r - 1} p ON c.j = p.i GROUP BY 1),
           |k$r AS (SELECT greatest(length(bin(max(abs(w)))) - 1 - 20, 0) AS k
           |        FROM w$r),
           |v$r AS MATERIALIZED (SELECT i, w >> k AS v FROM w$r, k$r)""".stripMargin
      }.mkString(",\n")
      s"""WITH q AS (
         |  SELECT list_transform(embedding,
         |    x -> CAST(floor(x * 64 + 0.5) AS BIGINT)) AS qv
         |  FROM embeddings),
         |idx AS (SELECT unnest(generate_series(1, 64)) AS i),
         |cells AS MATERIALIZED (
         |  SELECT ii.i AS i, jj.i AS j,
         |    CAST(sum(qv[ii.i] * qv[jj.i]) AS BIGINT) AS m
         |  FROM q, idx ii, idx jj GROUP BY 1, 2),
         |v0 AS (SELECT i, 1048576::BIGINT AS v FROM idx),
         |$steps
         |SELECT i, v FROM v$rounds ORDER BY i""".stripMargin
    }) { (s, d) =>
      import graft.operators.LinearAlgebra
      LinearAlgebra.dominantDirection(t(s, d, "embeddings"), "embedding",
          rounds = 12, quantScale = 64)
        .orderBy("i")
    },

    Q("q274_all_but_the_top", {
      // "ALL-BUT-THE-TOP" audit (Mu & Viswanath 2018): every vector's
      // projection onto the q273 dominant direction and its residual
      // energy after removing it — the post-processing step that
      // de-anisotropizes embedding spaces. The direction comes from
      // the integer power iteration (exact, collected O(dim) to the
      // driver); the per-vector dot products are first-element-seeded
      // left folds over double-cast elements (the q73/q99 recipe), and
      // resid2 = xx − dot²/uu is one shared IEEE tree — raw doubles
      // hash-match with NO rounding.
      val rounds = 12
      val steps = (1 to rounds).map { r =>
        s"""w$r AS MATERIALIZED (
           |  SELECT c.i, CAST(sum(c.m * p.v) AS BIGINT) AS w
           |  FROM cells c JOIN v${r - 1} p ON c.j = p.i GROUP BY 1),
           |k$r AS (SELECT greatest(length(bin(max(abs(w)))) - 1 - 20, 0) AS k
           |        FROM w$r),
           |v$r AS MATERIALIZED (SELECT i, w >> k AS v FROM w$r, k$r)""".stripMargin
      }.mkString(",\n")
      s"""WITH q AS (
         |  SELECT list_transform(embedding,
         |    x -> CAST(floor(x * 64 + 0.5) AS BIGINT)) AS qv
         |  FROM embeddings),
         |idx AS (SELECT unnest(generate_series(1, 64)) AS i),
         |cells AS MATERIALIZED (
         |  SELECT ii.i AS i, jj.i AS j,
         |    CAST(sum(qv[ii.i] * qv[jj.i]) AS BIGINT) AS m
         |  FROM q, idx ii, idx jj GROUP BY 1, 2),
         |v0 AS (SELECT i, 1048576::BIGINT AS v FROM idx),
         |$steps,
         |u AS (SELECT list(CAST(v AS DOUBLE) ORDER BY i) AS ul,
         |        CAST(sum(v * v) AS BIGINT) AS uu FROM v$rounds),
         |px AS (SELECT vec_id,
         |        list_transform(embedding, y -> CAST(y AS DOUBLE)) AS ed
         |      FROM embeddings),
         |scored AS (
         |  SELECT px.vec_id,
         |    (SELECT list_reduce(l, (a, x) -> a + x) FROM (
         |      SELECT list_transform(generate_series(1, len(px.ed)),
         |        k -> px.ed[k] * u.ul[k]) AS l)) AS dot,
         |    (SELECT list_reduce(l, (a, x) -> a + x) FROM (
         |      SELECT list_transform(generate_series(1, len(px.ed)),
         |        k -> px.ed[k] * px.ed[k]) AS l)) AS xx,
         |    u.uu
         |  FROM px, u)
         |SELECT vec_id, dot, xx - (dot * dot) / CAST(uu AS DOUBLE) AS resid2
         |FROM scored ORDER BY vec_id""".stripMargin
    }) { (s, d) =>
      import graft.operators.LinearAlgebra
      val e = t(s, d, "embeddings")
      val uRows = LinearAlgebra.dominantDirection(e, "embedding",
        rounds = 12, quantScale = 64).orderBy("i").collect()
      val u = uRows.map(_.getLong(1))
      val uu = u.map(x => x * x).sum
      val ul = typedlit(u.map(_.toDouble).toSeq)
      val dv = transform(col("embedding"), x => x.cast("double"))
      val dot = Q.seededFold(zip_with(dv, ul, (a, b) => a * b))
      val xx = Q.seededFold(zip_with(dv, dv, (a, b) => a * b))
      e.select(col("vec_id"), dot.as("dot"), xx.as("xx"))
        .select(col("vec_id"), col("dot"),
          (col("xx") - (col("dot") * col("dot")) / lit(uu.toDouble)).as("resid2"))
        .orderBy("vec_id")
    }
  )
}
