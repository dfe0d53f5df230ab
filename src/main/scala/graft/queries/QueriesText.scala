package graft.queries

import org.apache.spark.sql.functions._
import graft.text.{Dedup, TextLib}
import graft.vec.Similarity
import graft.multimodal.Multimodal
import QueryUtil._

/** Queries for the LLM-training-data surface: dedup suite, text analysis,
  * similarity search, multimodal plumbing. Hash-based candidate generators
  * (MinHash/SimHash/LSH/fingerprint) are engine-specific → rows-only here,
  * with recall/precision property tests in ScalaTest; everything
  * SQL-expressible carries a DuckDB oracle.
  */
object QueriesText {

  /** documents ∪ a mutated copy (last word dropped, doc_id+100000) —
    * guarantees near-duplicate pairs exist at any scale factor, so candidate
    * generators provably return rows.
    */
  /** The fixture mutation rule (drop the last word, shift the id by
    * `offset`) — ONE definition; three oracle SQL strings replicate it as
    * `regexp_replace(text, '\s+\S+\s*$', '')` + `doc_id + 100000` and must
    * stay in lockstep.
    */
  /** Cross-engine gate: md5-derived bucket of 1e6 an external SQL engine
    * can re-derive (the engine default is xxhash64, which DuckDB lacks).
    * The prefix doubles as the salt — keep it distinct per query.
    */
  private def md5Gate(prefix: String) =
    conv(substring(md5(concat(lit(prefix), col("doc_id").cast("string"))), 1, 15),
      16, 10).cast("long") % 1000000L

  private def mutateLastWordDrop(d: org.apache.spark.sql.DataFrame, offset: Long = 100000L) =
    d.withColumn("doc_id", col("doc_id") + offset)
      .withColumn("text", regexp_replace(col("text"), "\\s+\\S+\\s*$", ""))

  private def docsWithNearDups(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val d = t(s, dir, "documents")
    d.unionByName(mutateLastWordDrop(d))
  }

  /** Fixed prototype centroids for the q_proto_select / q_d4_select gates:
    * the embeddings of vec_id 0–3, in id order — data-derived, so the SQL
    * oracle reads the same four rows instead of replaying a Lloyd fit.
    */
  private def protoCentroids(e: org.apache.spark.sql.DataFrame): Array[Array[Double]] =
    e.filter(col("vec_id") < 4).orderBy("vec_id").select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)

  val queries: Map[String, Q] = Map(
    "q_dedup_exact" -> ((s, dir) =>
      Dedup.exact(docsWithNearDups(s, dir), "text", "doc_id")
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")),

    "q_dedup_keepbest" -> ((s, dir) =>
      // quality-aware survivor election: a synthetic per-row quality
      // ((doc_id*37) % 101) varies WITHIN duplicate groups, so keep-best
      // provably diverges from keep-first wherever a later copy scores higher
      Dedup.exactKeepBest(
          docsWithNearDups(s, dir)
            .withColumn("q", (col("doc_id") * 37 % 101).cast("double")),
          "text", "doc_id", "q")
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")),

    "q_semantic_contamination" -> ((s, dir) => {
      // eval suite = every 50th embedding; max-cosine of each remaining
      // vector against the broadcast eval set; threshold 0.3 sits inside
      // the observed max_cos range at every SF so both flag values occur
      val e = t(s, dir, "embeddings")
      val ev = e.filter(col("vec_id") % 50 === 0)
      val train = e.filter(col("vec_id") % 50 =!= 0)
      // round 8 (VERDICT r7 #5): the IVF-cell pre-screen was implemented
      // (semanticContaminationScreened — exact, q_semantic_contamination_law
      // pins it) and MEASURED here: on this fixture's isotropic gaussian
      // 64-dim embeddings all angles concentrate at 90°, cells cannot be
      // tight, and the exact angular bound prunes 0% at every threshold
      // inside the observed max_cos range (0.12-0.47) — the screened plan
      // paid two joins instead of one BNLJ and ran >4× slower at the ×100
      // stress. The brute plan IS the optimal plan for this geometry; the
      // screen is kept for the realistic clustered-eval-suite case.
      graft.text.Contamination.semanticContamination(
          train, "vec_id", "embedding", ev, "vec_id", "embedding", threshold = 0.3)
        // the op preserves ALL train columns (filter-and-continue contract);
        // the gate projects the scored triple so the oracle compare stays
        // payload-free
        .select("vec_id", "max_cos", "nearest_eval_id", "contaminated")
        .orderBy("vec_id")
    }),

    "q_bloom_exclude" -> ((s, dir) => {
      // blocklist exclusion via Bloom prefilter + exact anti-join
      // (Scale.excludeKeysBloom); result is exact anti-join semantics
      val docs = t(s, dir, "documents")
      val block = docs.filter(col("doc_id") % 7 === 0).select(col("doc_id").as("bad_id"))
      graft.ops.Scale.excludeKeysBloom(docs, "doc_id", block, "bad_id", fpp = 0.01)
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    }),

    "q_dedup_exact_map" -> ((s, dir) => {
      // duplicate every 5th doc verbatim (id+200000) → known dup groups
      val d = t(s, dir, "documents")
      val dups = d.filter(col("doc_id") % 5 === 0).withColumn("doc_id", col("doc_id") + 200000L)
      Dedup.exactDupMap(d.unionByName(dups), "text", "doc_id")
        .orderBy("survivor", "member")
    }),

    "q_url_canonicalize" -> ((s, dir) => {
      // nine deterministic mess families per doc_id — each exercises a
      // different canonicalization rule (case, default port, tracking
      // params + sort, userinfo, empty path, fragment, non-URL
      // passthrough) or public-suffix rule class (two-label co.uk,
      // THREE-label k12.ca.us, the *.kawasaki.jp wildcard, and its
      // !city.kawasaki.jp exception — round 6, VERDICT r5 #3); the oracle
      // recomputes canonical form, host, and registered domain straight
      // from the formula
      val ds = col("doc_id").cast("string")
      val f = pmod(col("doc_id"), lit(9))
      val raw = when(f === 0, concat(lit("HTTP://WWW.Example"), ds,
          lit(".COM:80/A/b"), ds, lit("?z=1&utm_source=feed&a=2#frag")))
        .when(f === 1, concat(lit("https://News.Site"), ds, lit(".co.uk:443/")))
        .when(f === 2, concat(lit("https://blog.host"), ds, lit(".org?fbclid=abc"), ds))
        .when(f === 3, concat(lit("http://user:pw@Host"), ds, lit(".net:8080/p?b=2&a=1&a=0")))
        .when(f === 4, concat(lit("  doc "), ds, lit(" not a url  ")))
        .when(f === 5, concat(lit("https://a.b.site"), ds, lit(".com/x#y")))
        .when(f === 6, concat(lit("https://School"), ds, lit(".K12.CA.US/home")))
        .when(f === 7, concat(lit("http://Sub.town"), ds, lit(".kawasaki.jp/index")))
        .otherwise(concat(lit("https://WWW.City.kawasaki.jp/ward"), ds))
      graft.text.UrlLib.withUrlColumns(
          t(s, dir, "documents").select(col("doc_id")).withColumn("url", raw), "url")
        .select(col("doc_id"), col("url_canonical"), col("url_host"), col("url_domain"))
        .orderBy("doc_id")
    }),

    "q_url_dedup" -> ((s, dir) => {
      // URL-keyed keep-first dedup: seed = doc_id % 97 gives ~n/97-sized
      // collision groups across all six mess families; survivors are the
      // smallest doc_id per canonical URL
      val seed = col("doc_id") % 97
      val ds = seed.cast("string")
      val f = pmod(seed, lit(6))
      val raw = when(f === 0, concat(lit("HTTP://WWW.Example"), ds,
          lit(".COM:80/A/b"), ds, lit("?z=1&utm_source=feed&a=2#frag")))
        .when(f === 1, concat(lit("https://News.Site"), ds, lit(".co.uk:443/")))
        .when(f === 2, concat(lit("https://blog.host"), ds, lit(".org?fbclid=abc"), ds))
        .when(f === 3, concat(lit("http://user:pw@Host"), ds, lit(".net:8080/p?b=2&a=1&a=0")))
        .when(f === 4, concat(lit("  doc "), ds, lit(" not a url  ")))
        .otherwise(concat(lit("https://a.b.site"), ds, lit(".com/x#y")))
      val d = t(s, dir, "documents").select(col("doc_id")).withColumn("url", raw)
      graft.text.UrlLib.dedupByUrl(d, "url", "doc_id")
        .select(col("doc_id"),
          graft.text.UrlLib.canonicalizeUrl(col("url")).as("url_canonical"))
        .orderBy("doc_id")
    }),

    "q_html_to_text" -> ((s, dir) => {
      // five deterministic markup families per doc_id — script removal,
      // block-tag paragraphs, inline tags + named entities, numeric
      // entities (decimal + hex), malformed/plain passthrough; the oracle
      // recomputes the expected text from the same formula
      val ds = col("doc_id").cast("string")
      val f = pmod(col("doc_id"), lit(5))
      val raw = when(f === 0, concat(lit("<html><script>var x="), ds,
          lit(";</script><p>Doc "), ds, lit("</p></html>")))
        .when(f === 1, concat(lit("<div>Part "), ds, lit("</div><div>And more</div>")))
        .when(f === 2, concat(lit("A &amp; B <b>bold "), ds, lit("</b> &lt;tag&gt;")))
        .when(f === 3, concat(lit("num &#65;&#x42; id "), ds, lit(" &nbsp;end")))
        .otherwise(concat(lit("plain & text "), ds, lit(" a<b unclosed")))
      t(s, dir, "documents").select(col("doc_id"))
        .withColumn("html", raw)
        .withColumn("text_out", graft.text.TextLib.htmlToText(col("html")))
        .select("doc_id", "text_out")
        .orderBy("doc_id")
    }),

    "q_text_quality" -> ((s, dir) =>
      TextLib.qualityFeatures(t(s, dir, "documents"), "text")
        .select(col("doc_id"), col("n_chars_calc"), col("n_words"),
          roundf(col("punct_ratio"), 6).as("punct_ratio"),
          roundf(col("digit_ratio"), 6).as("digit_ratio"),
          roundf(col("upper_ratio"), 6).as("upper_ratio"),
          roundf(col("mean_word_len"), 6).as("mean_word_len"),
          roundf(col("stopword_ratio"), 6).as("stopword_ratio"))
        .orderBy("doc_id")),

    "q_rpv2_extras" -> ((s, dir) =>
      // the RPV2 residual signals: native per-doc unigram entropy (one
      // hash-map pass, no shuffle), lorem-ipsum and curly-bracket ratios
      TextLib.rpv2Extras(t(s, dir, "documents").select("doc_id", "text"), "text")
        .select(col("doc_id"),
          roundf(col("unigram_entropy"), 6).as("unigram_entropy"),
          roundf(col("lorem_ipsum_ratio"), 8).as("lorem_ipsum_ratio"),
          roundf(col("curly_bracket_ratio"), 8).as("curly_bracket_ratio"))
        .orderBy("doc_id")),

    "q_text_quality_score" -> ((s, dir) =>
      TextLib.qualityScore(t(s, dir, "documents"), "text")
        .select("doc_id", "quality_score")
        .orderBy("doc_id")),

    "q_token_counts" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextLib.tokenCountWs(col("text")).as("n_ws_tokens"),
          TextLib.tokenCountBpeIsh(col("text")).as("n_bpe_tokens"))
        .orderBy("doc_id")),

    "q_vocabulary" -> ((s, dir) =>
      TextLib.vocabulary(t(s, dir, "documents"), "text", idCol = "doc_id", minDf = 2, topK = 50)),

    "q_pii_redact" -> ((s, dir) => {
      // synthetic corpus has no PII — plant deterministic specimens so the
      // scrub provably fires, then check flags + the redacted tail
      val planted = t(s, dir, "documents").withColumn("text",
        when(col("doc_id") % 4 === 0, concat(col("text"), lit(" contact john.doe@example.com now")))
          .when(col("doc_id") % 4 === 1, concat(col("text"), lit(" call +1-555-123-4567 today")))
          .when(col("doc_id") % 4 === 2, concat(col("text"), lit(" server at 192.168.0.1 port")))
          .otherwise(col("text")))
      planted.withColumn("__red", TextLib.redactPii(col("text")))
        .select(col("doc_id"),
          col("__red").contains("<EMAIL>").as("has_email"),
          col("__red").contains("<PHONE>").as("has_phone"),
          col("__red").contains("<IP>").as("has_ip"),
          expr("right(__red, 30)").as("tail30"))
        .orderBy("doc_id")
    }),

    "q_text_repetition" -> ((s, dir) => {
      // documents ∪ a self-repeated copy (text twice) — repetition must rise
      val d = t(s, dir, "documents")
      val repeated = d.withColumn("doc_id", col("doc_id") + 300000L)
        .withColumn("text", concat(col("text"), lit(" "), col("text")))
      d.unionByName(repeated)
        .select(col("doc_id"), TextLib.repetitionRatio(col("text"), 3).as("rep_ratio"))
        .orderBy("doc_id")
    }),

    "q_dedup_clusters" -> ((s, dir) => { // rows-only: cluster election over LSH candidates
      val cands = Dedup.minhashCandidates(docsWithNearDups(s, dir), "text", "doc_id",
        shingleN = 3, numHashes = 64, bands = 16, threshold = 0.6)
      Dedup.clusterCandidates(cands)
    }),

    "q_near_dedup" -> ((s, dir) => // rows-only: the end-to-end near-dedup composite
      Dedup.nearDedup(docsWithNearDups(s, dir), "text", "doc_id", threshold = 0.6)
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")),

    "q_near_dedup_keepbest" -> ((s, dir) => {
      // hash-exact gate for the cluster keep-best election on a fully
      // deterministic fixture: md5-gated chain edges (doc → doc-1 where the
      // gate fires — expected chain length 3) + an md5-derived INTEGER
      // quality in [0, 97) so ties exercise the min-id tie-break. DuckDB
      // replays the edges, the connected components (recursive CTE, min
      // label = the engine's cluster_id), and the (quality desc, id asc)
      // argmin election. Survivors only; singletons are their own cluster.
      val d = t(s, dir, "documents")
        .select(col("doc_id"), (md5Gate("kbq:") % 97L).cast("int").as("quality"))
      val pairs = d.filter(md5Gate("kbe:") % 3L =!= 0L)
        .select((col("doc_id") - 1L).as("id_a"), col("doc_id").as("id_b"))
        .join(d.select(col("doc_id").as("id_a")), Seq("id_a"), "left_semi")
      val clusters = Dedup.clusterCandidates(pairs)
      Dedup.keepBestByCluster(d, "doc_id", "quality", clusters)
        .join(clusters.select(col("id").as("doc_id"), col("cluster_id")),
          Seq("doc_id"), "left")
        .select(col("doc_id"), col("quality"),
          coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
        .orderBy("doc_id")
    }),

    "q_chunk_docs" -> ((s, dir) =>
      TextLib.chunkDocuments(t(s, dir, "documents"), "text", chunkSize = 200, overlap = 50)
        .select(col("doc_id"), col("chunk_idx"), length(col("chunk_text")).as("chunk_len"),
          substring(col("chunk_text"), 1, 20).as("chunk_head"))
        .orderBy("doc_id", "chunk_idx")),

    "q_embed_stats" -> ((s, dir) =>
      t(s, dir, "embeddings")
        .select(col("label"), Similarity.l2Norm(col("embedding")).as("nrm"))
        .groupBy("label")
        .agg(count(lit(1)).as("n"), round(avg(col("nrm")), 4).as("avg_norm"))
        .orderBy("label")),

    "q_embed_meanpool" -> ((s, dir) => {
      // chunk→doc pooling surrogate: weighted positional mean per label +
      // renorm, emitted as (label, pos, v) rows — the checker compares
      // scalars, not lists. Weight = vec_id%5+1 exercises the weighted arm.
      val e = t(s, dir, "embeddings")
      graft.vec.VectorOps.meanPool(
          e.withColumn("w", (col("vec_id") % 5 + 1).cast("double")),
          Seq("label"), "embedding", weightCol = Some("w"), renorm = true)
        .select(col("label"), posexplode(col("pooled")).as(Seq("pos", "v")))
        .withColumn("v", round(col("v") + lit(1e-9), 6))
        .orderBy("label", "pos")
    }),

    "q_mrl_truncate" -> ((s, dir) =>
      // Matryoshka prefix truncation + renorm at 16 of 64 dims. OUTER
      // posexplode: the non-outer form lets InferFiltersFromGenerate push
      // `isnotnull(unitize(slice(...)))` into the parquet scan's data
      // filters (the expensive_scan_filter pathology — PlanLint caught
      // it); outer generates infer nothing, and this corpus has no null
      // embeddings for the outer row to differ on.
      graft.vec.VectorOps.truncateRenorm(t(s, dir, "embeddings"), "embedding", 16)
        .select(col("vec_id"), posexplode_outer(col("trunc")).as(Seq("pos", "v")))
        .withColumn("v", round(col("v") + lit(1e-9), 6))
        .orderBy("vec_id", "pos")),

    "q_ann_brute" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.bruteTopK(e, "vec_id", "embedding",
          e.filter(col("vec_id") < 5), "vec_id", "embedding", k = 10)
        .orderBy("query_id", "neighbor_id")
    }),

    // ---- rows-only: engine-specific hashing; recall verified in ScalaTest ----
    "q_dedup_minhash" -> ((s, dir) =>
      Dedup.minhashCandidates(docsWithNearDups(s, dir), "text", "doc_id",
        shingleN = 3, numHashes = 64, bands = 16, threshold = 0.4)),

    "q_dedup_simhash" -> ((s, dir) =>
      Dedup.simhashCandidates(docsWithNearDups(s, dir), "text", "doc_id", maxHamming = 3)),

    "q_fuzzy_pairs" -> ((s, dir) =>
      // edit-distance join on 24-char lowercased prefixes: the q-gram
      // pigeonhole candidates must reproduce the DuckDB brute-force
      // cross-join exactly (the no-false-negatives law, hard-gated)
      graft.text.Fuzzy.fuzzyPairs(
          t(s, dir, "documents")
            .filter(col("doc_id") % 2 === 0 && col("text").isNotNull)
            .withColumn("s24", lower(substring(col("text"), 1, 24))),
          "doc_id", "s24", maxDist = 2, q = 2)
        .orderBy("id_a", "id_b")),

    "q_dedup_ngram_jaccard" -> ((s, dir) =>
      // exact set-Jaccard is engine-independent math → full oracle (the
      // MinHash/SimHash siblings stay rows-only: their hash families are
      // engine-specific)
      Dedup.ngramJaccardPairs(docsWithNearDups(s, dir), "text", "doc_id",
          shingleN = 3, threshold = 0.4)
        .orderBy("id_a", "id_b")),

    "q_consolidate" -> ((s, dir) => {
      // typo-splintered categorical: ~1/7 of rows truncated, ~1/11 with a
      // trailing X; one consolidation round must fold every variant back
      // onto its frequent canonical (clean segments sit far apart)
      val c = t(s, dir, "customer")
        .withColumn("seg_messy",
          when(col("c_custkey") % 7 === 0,
            expr("substring(c_mktsegment, 1, length(c_mktsegment) - 1)"))
            .when(col("c_custkey") % 11 === 0, concat(col("c_mktsegment"), lit("X")))
            .otherwise(col("c_mktsegment")))
      graft.text.Fuzzy.consolidateValues(c, "seg_messy", maxDist = 2, outCol = "seg_clean")
        .groupBy("seg_clean").agg(count(lit(1)).as("n"))
        .orderBy("seg_clean")
    }),

    "q_readability" -> ((s, dir) => {
      // the synthetic corpus is unpunctuated; appending a pinned
      // multi-sentence tail makes the sentence counter do real work
      val d = t(s, dir, "documents")
        .withColumn("text2",
          concat_ws(" ", col("text"), lit("one more sentence. and another! done?")))
      TextLib.readability(d, "text2")
        .select(col("doc_id"), col("rd_words"), col("rd_sentences"),
          col("rd_syllables"), roundf(col("flesch"), 4).as("flesch"))
        .orderBy("doc_id")
    }),

    "q_kwic" -> ((s, dir) =>
      // keyword-in-context audit for a corpus-frequent term; ±3-token
      // window exercises both edge clamps (term occurs at doc starts/ends)
      TextLib.keywordInContext(t(s, dir, "documents"), "text", "doc_id", "spark", 3)
        .orderBy("doc_id", "position")),

    "q_dedup_containment" -> ((s, dir) => {
      // planted subset duplicates: the first 10 words of every 5th doc as
      // a standalone "quotation" doc — near-zero Jaccard against its
      // source but containment 1.0, exactly the case the asymmetric
      // measure exists for
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val prefixes = t(s, dir, "documents").filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 200000L).as("doc_id"),
          array_join(slice(split(TextLib.normalized(col("text")), " "), 1, 10), " ").as("text"))
      Dedup.ngramContainmentPairs(d.unionByName(prefixes), "text", "doc_id",
          shingleN = 3, threshold = 0.8)
        .orderBy("id_a", "id_b")
    }),

    "q_embed_neardup" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val jittered = e.withColumn("vec_id", col("vec_id") + 100000L)
      Similarity.embeddingNearDupPairs(e.unionByName(jittered), "vec_id", "embedding",
        threshold = 0.99, dim = 64)
    }),

    "q_semantic_dedup" -> ((s, dir) => {
      // SemDeDup end-to-end on the corpus + exact copies under shifted ids:
      // fully deterministic (driver Lloyd centroids, row-local assignment,
      // min-label components, id-tie-broken election) → golden-gated
      val e = t(s, dir, "embeddings")
      val copies = e.withColumn("vec_id", col("vec_id") + 100000L)
      graft.vec.SemDedup.semanticDupGroups(e.unionByName(copies), "vec_id", "embedding",
          threshold = 0.999, nClusters = 16)
        .orderBy("id")
    }),

    "q_proto_select" -> ((s, dir) => {
      // SSL-prototype pruning (Sorscher et al. 2022) with FIXED centroids —
      // the embeddings of vec_id 0–3 — so assignment (argmax rounded
      // cosine, ties → min centroid index) and the per-cluster rank
      // (cos desc, id asc) replay as plain SQL: a full VALUE gate over the
      // audit map, not a zeros-law. The engine side ranks via distributed
      // ordinals (no per-cluster window funnel); the oracle's window is
      // fine at gate SFs.
      val e = t(s, dir, "embeddings")
      graft.vec.Prototypes.protoSelectMap(e, "vec_id", "embedding",
          protoCentroids(e), 0.3)
        .orderBy("vec_id")
    }),

    "q_d4_select" -> ((s, dir) => {
      // D4 (Tirumala et al. 2023) end-to-end: SemDeDup at 0.999 over the
      // corpus + exact copies (survivors = min id per identical-embedding
      // group — SQL-replayable because the copies are bit-identical and no
      // distinct pair reaches the threshold), then prototype pruning of
      // the survivors against the fixed vec_id 0–3 centroids.
      val e = t(s, dir, "embeddings")
      val copies = e.withColumn("vec_id", col("vec_id") + 100000L)
      graft.vec.Prototypes.d4Select(e.unionByName(copies), "vec_id", "embedding",
          semThreshold = 0.999, semClusters = 16,
          centroids = protoCentroids(e), pruneFraction = 0.25)
        .select(col("vec_id")).orderBy("vec_id")
    }),

    "q_ann_lsh" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.lshTopK(e, "vec_id", "embedding",
        e.filter(col("vec_id") < 5), "vec_id", "embedding",
        k = 10, dim = 64, bands = 8, bitsPerBand = 4)
    }),

    "q_ann_ivf" -> ((s, dir) => {
      // LAW gate (VERDICT r5 #2): the IVF neighbor set is MLlib-centroid-
      // dependent and can't be hash-compared, but two laws are stable
      // contracts regardless of which centroids Lloyd landed on:
      //  1. FULL probe (nprobe = nlist) must equal exact brute force
      //     EXACTLY — every corpus row sits in exactly one list, so probing
      //     all lists makes the candidate set the whole corpus and both
      //     paths rank by the same (round(cos,6) DESC, id ASC) key. A row
      //     lost or duplicated by list assignment, or any scoring/ranking
      //     divergence, breaks the per-query (neighbor_id, cos) set match.
      //  2. PARTIAL probe (nprobe = 3 of 8) recall ≥ 0.2: deliberately
      //     loose — the synthetic embeddings are near-uniform, so honest
      //     probe loss is ≈ nprobe/nlist and per-query recall swings 0.4-1.0
      //     with the centroid draw (measured); 0.2 still fails outright
      //     scoring breakage (random ranking recall ≈ k/N ≈ 0.002).
      //     Probe-SELECTION quality (nearest lists first) is pinned on
      //     clustered vectors in PqSpec, where it is actually observable.
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 5)
      // ONE coarse-centroid training shared by both probe settings — two
      // bare ivfTopK calls would fit the identical model twice (round-6
      // review)
      val cents = Similarity.ivfTrainCentroids(e, "embedding", nlist = 8)
      def ivf(nprobe: Int) = Similarity.ivfTopK(e, "vec_id", "embedding",
        q, "vec_id", "embedding", k = 10, nlist = 8, nprobe = nprobe, centroids = cents)
      val exact = Similarity.bruteTopK(e, "vec_id", "embedding",
        q, "vec_id", "embedding", k = 10)
      val fullDiff = ivf(8).select("query_id", "neighbor_id", "cos")
        .unionByName(exact.select("query_id", "neighbor_id", "cos"))
        .groupBy("query_id", "neighbor_id", "cos").agg(count(lit(1)).as("__n"))
        .filter(col("__n") =!= 2) // symmetric difference of the scored sets
        .groupBy("query_id").agg(count(lit(1)).as("n_diff"))
      val hits = exact.select("query_id", "neighbor_id")
        .join(ivf(3).select("query_id", "neighbor_id"), Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
      val kExact = exact.groupBy("query_id").agg(count(lit(1)).as("k_exact"))
      kExact.join(fullDiff, Seq("query_id"), "left").join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          (coalesce(col("n_diff"), lit(0L)) === 0).as("full_probe_matches_exact"),
          (coalesce(col("n_hits"), lit(0L)) >= col("k_exact") * 0.2).as("partial_recall_ok"))
        .orderBy("query_id")
    }),

    "q_pq_encode" -> ((s, dir) => {
      // product-quantization codes: the codebook is bit-deterministic
      // (hash-gated id-sorted sample, driver Lloyd), so the codes are
      // golden-gatable; DuckDB cannot replay k-means → golden at sf0.01
      val e = t(s, dir, "embeddings")
      val model = graft.vec.Pq.train(e, "embedding", "vec_id", m = 8, nbits = 6)
      graft.vec.Pq.encode(e, "embedding", model)
        .select(col("vec_id"), hex(col("pq_code")).as("pq_code_hex"))
        .orderBy("vec_id")
    }),

    "q_ann_ivfpq" -> ((s, dir) => {
      // recall-LAW gate for the compressed-domain path. Unlike plain IVF,
      // full probe is NOT exactly equal to brute force — the ADC shortlist
      // quantizes by design — so the law is probabilistic: recall@10 ≥ 0.5
      // per query at full probe (nprobe = nlist removes routing loss) with
      // a shortlist wide enough (rerank=32 → 320 candidates) that measured
      // recall is 0.9-1.0 at every SF on the near-uniform synthetic
      // vectors; a broken encode/ADC/re-rank collapses it to ≈ k/N.
      // PqSpec additionally pins recall ≥ 0.7 on clustered vectors at
      // partial probe and the ADC==reconstructed-distance differential
      // in-JVM. Cosine ranking here is over UNIT vectors (ivfPqTopK
      // normalizes), which matches bruteTopK's cosine ordering exactly.
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 5)
      val model = graft.vec.Pq.train(e, "embedding", "vec_id", m = 8, nbits = 6)
      val approx = graft.vec.Pq.ivfPqTopK(e, "vec_id", "embedding",
          q, "vec_id", "embedding", k = 10, model, nlist = 8, nprobe = 8, rerank = 32)
        .select("query_id", "neighbor_id")
      val exact = Similarity.bruteTopK(e, "vec_id", "embedding",
          q, "vec_id", "embedding", k = 10)
        .select("query_id", "neighbor_id")
      val kExact = exact.groupBy("query_id").agg(count(lit(1)).as("k_exact"))
      val hits = exact.join(approx, Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
      kExact.join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          (coalesce(col("n_hits"), lit(0L)) >= col("k_exact") * 0.5).as("recall_ok"))
        .orderBy("query_id")
    }),

    "q_dedup_minhash_incr" -> ((s, dir) => {
      // incremental NEAR-dup screening (batch vs accepted snapshot) made
      // SQL-oracle-able: the batch plants EXACT copies of every 7th doc
      // (identical text → identical signatures → est_jaccard exactly 1.0
      // and guaranteed candidacy, no LSH luck involved) plus fresh docs of
      // corpus-disjoint tokens (empty shingle overlap → no shared band
      // buckets). The gate pins, per batch doc: did ANY snapshot match
      // fire, and was the true source among the matches — both pure
      // functions of the plant.
      val d = t(s, dir, "documents")
      val copies = d.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 500000L).as("doc_id"), col("text"))
      val fresh = d.filter(col("doc_id") % 7 === 1)
        .select((col("doc_id") + 900000L).as("doc_id"),
          concat(lit("zxqv unique "), col("doc_id"),
            lit(" plumbus vortkel grumbo blit snarfle quxx")).as("text"))
      val batch = copies.unionByName(fresh)
      val cands = Dedup.minhashCandidatesAgainst(batch, d, "text", "doc_id",
        threshold = 0.8)
      val flags = cands.groupBy(col("new_id"))
        .agg(max(when(col("ref_id") === col("new_id") - 500000L, 1).otherwise(0)).as("__src"),
          count(lit(1)).as("__n"))
      batch.select(col("doc_id"))
        .join(flags, col("doc_id") === col("new_id"), "left")
        .select(col("doc_id"),
          col("__n").isNotNull.as("matched"),
          coalesce(col("__src") === 1, lit(false)).as("src_matched"))
        .orderBy("doc_id")
    }),

    "q_mmr" -> ((s, dir) => {
      // MMR diversification hard-oracled by construction: candidates carry
      // ONE-HOT embeddings (pairwise cosine ∈ {0, 1} exactly), so the
      // greedy selection order is provable by hand — relevance descends in
      // doc_id, docs 0-2 and 5-11 share direction 0, doc 3 is direction 1,
      // doc 4 direction 2. With λ=0.6 the greedy picks 0 (top relevance),
      // then 3 and 4 (unseen directions beat the 0.4 duplicate penalty),
      // then 1 and 2 — order [0,3,4,1,2], NOT relevance order, so a broken
      // penalty term cannot pass. The oracle replays scores with the same
      // IEEE arithmetic.
      val d = t(s, dir, "documents").select("doc_id").filter(col("doc_id") < 12)
      val withQ = d.crossJoin(broadcast(s.range(0, 3).toDF("query_id")))
        .withColumn("relevance", (lit(100) - col("doc_id") * 5) / lit(100.0))
        .withColumn("__dir",
          when(col("doc_id") === 3, 1).when(col("doc_id") === 4, 2).otherwise(0))
        .withColumn("vec", array(
          when(col("__dir") === 0, 1.0f).otherwise(0.0f),
          when(col("__dir") === 1, 1.0f).otherwise(0.0f),
          when(col("__dir") === 2, 1.0f).otherwise(0.0f)))
      graft.text.Search.mmrSelect(withQ, "query_id", "doc_id",
          "relevance", "vec", k = 5, lambda = 0.6)
        .orderBy("query_id", "mmr_rank")
    }),

    "q_hybrid_rrf" -> ((s, dir) => {
      // reciprocal-rank fusion over two deterministic synthetic retriever
      // lists (rank formulas are pure functions of doc_id and query id, so
      // the oracle replays retrieval AND fusion end-to-end in SQL); the
      // fusion op itself is retriever-agnostic — this hard-gates the RRF
      // math, dedup across lists, tie handling, and top-k
      import org.apache.spark.sql.expressions.{Window => W}
      val d = t(s, dir, "documents").select("doc_id")
      val withQ = d.crossJoin(broadcast(s.range(0, 3).toDF("query_id")))
      def rankedList(mult: Long, off: Long, mod: Long) = {
        val key = pmod(col("doc_id") * mult + col("query_id") * off, lit(mod))
        val w = W.partitionBy(col("query_id")).orderBy(key.asc, col("doc_id").asc)
        withQ.withColumn("rank", row_number().over(w)).filter(col("rank") <= 20)
          .select("query_id", "doc_id", "rank")
      }
      graft.text.Search.rrfFuse(
          Seq(rankedList(7L, 11L, 1000L), rankedList(13L, 5L, 997L)),
          "query_id", "doc_id", k = 10)
        .orderBy("query_id", "rank")
    }),

    "q_lang_id" -> ((s, dir) =>
      // oracle-able: stopword-ratio scores are exact int/count arithmetic
      TextLib.langId(t(s, dir, "documents"), "text")
        .select("doc_id", "lang", "lang_pred")
        .orderBy("doc_id")),

    "q_lang_id_model" -> ((s, dir) => {
      // char-trigram fit/apply language ID: fit on the labeled 2/3 split
      // (doc_id % 3 <> 2), apply to EVERY document as a pure map. DuckDB
      // replays the whole model — integer gram counts, the ln(tf/T) table
      // with its (tf desc, gram asc) top-2000 cap, the −ln(T) OOV floor,
      // the 6dp-rounded mean score, and the (score desc, lang desc) argmax
      val d = t(s, dir, "documents")
      val m = TextLib.langIdFit(d.filter(col("doc_id") % 3 =!= 2), "text", "lang",
        n = 3, tableSize = 2000)
      TextLib.langIdApply(d, "text", m)
        .select(col("doc_id"), col("lang"), col("lang_pred"), col("lang_score"))
        .orderBy("doc_id")
    }),

    "q_fingerprint" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), TextLib.fingerprint(col("text"), 3).as("fp"))),

    "q_deflate_ratio" -> ((s, dir) =>
      // compression-ratio quality signal (native Deflater expression);
      // DuckDB cannot replay DEFLATE → golden-gated at sf0.01, law-gated
      // (repetitive < prose < random) in TextExprsSpec
      t(s, dir, "documents")
        .select(col("doc_id"),
          round(graft.expr.DeflateRatio.deflateRatio(col("text")), 6).as("deflate_ratio"))
        .orderBy("doc_id")),

    "q_multimodal_features" -> ((s, dir) => {
      // REAL ImageIO round-trip: a deterministic PNG is rendered per doc
      // (dims vary with doc_id), decoded back by the decode_image_stats
      // column function; the oracle recomputes the pattern's exact pixel
      // stats in plain SQL — decoded width/height prove a real decode
      val gen = udf((seed: Long, w: Int, h: Int) => Multimodal.syntheticPng(seed, w, h))
      val d = t(s, dir, "documents")
        .select(col("doc_id"),
          (lit(8) + pmod(col("doc_id"), lit(9))).cast("int").as("w"),
          (lit(8) + pmod(col("doc_id"), lit(7))).cast("int").as("h"))
      val media = Multimodal.asMedia(
        d.withColumn("payload", gen(col("doc_id"), col("w"), col("h"))),
        "doc_id", "payload", "image/png")
      Multimodal.decodeImageStats(media, "payload")
        .select(col("media_id"),
          col("image_stats.width").as("width"),
          col("image_stats.height").as("height"),
          col("image_stats.channels").as("channels"),
          roundf(col("image_stats.mean_r"), 6).as("mean_r"),
          roundf(col("image_stats.mean_g"), 6).as("mean_g"),
          roundf(col("image_stats.mean_b"), 6).as("mean_b"),
          roundf(col("image_stats.mean_luma"), 6).as("mean_luma"))
        .orderBy("media_id")
    }),

    "q_multimodal_audio" -> ((s, dir) => {
      // REAL WAV round-trip: a deterministic PCM16 clip is encoded per doc
      // (length varies with doc_id), decoded back by the decode_audio_stats
      // column function; the oracle recomputes the pinned sample formula's
      // exact integer stats in SQL — parsed rate/frames prove a real decode
      val gen = udf((seed: Long, n: Int) => Multimodal.syntheticWav(seed, n))
      val d = t(s, dir, "documents")
        .select(col("doc_id"),
          (lit(200) + pmod(col("doc_id"), lit(97))).cast("int").as("n"))
      val media = Multimodal.asMedia(
        d.withColumn("payload", gen(col("doc_id"), col("n"))),
        "doc_id", "payload", "audio/wav")
      Multimodal.decodeAudioStats(media, "payload")
        .select(col("media_id"),
          col("audio_stats.sample_rate").as("sample_rate"),
          col("audio_stats.channels").as("channels"),
          col("audio_stats.num_frames").as("num_frames"),
          col("audio_stats.duration_ms").as("duration_ms"),
          col("audio_stats.sum_abs").as("sum_abs"),
          col("audio_stats.sum_sq").as("sum_sq"),
          col("audio_stats.zero_crossings").as("zero_crossings"))
        .orderBy("media_id")
    }),

    "q_multimodal_stub_features" -> ((s, dir) => {
      // the NON-IMAGE stub path (audio/video have no codec in this
      // container): golden-gated at sf0.01 (deterministic seeded-hash
      // features) with SF-independent shape laws in
      // q_multimodal_stub_features_law; array-level assertions in specs
      val media = Multimodal.asMedia(
        t(s, dir, "documents").withColumn("payload", col("text").cast("binary")),
        "doc_id", "payload", "audio/fake")
      Multimodal.decodeToFeatures(media, "payload", dim = 8)
        .select(col("media_id"), size(col("features")).as("feat_dim"),
          round(aggregate(col("features"), lit(0.0), (acc, x) => acc + x * x), 4).as("feat_sq_sum"),
          round(element_at(col("features"), 1), 4).as("feat_c1"))
    }),

    "q_multimodal_gif_frames" -> ((s, dir) => {
      // REAL multi-frame decode: an animated GIF of solid-color frames is
      // written per doc by the JDK sequence writer, every 2nd frame is
      // decoded back; solid frames round-trip exactly, so the oracle
      // recomputes frame count, sampled indices, and per-frame channel
      // means straight from the color formula
      val gen = udf((seed: Long, n: Int) => Multimodal.syntheticGif(seed, 8, 6, n))
      val d = t(s, dir, "documents")
        .select(col("doc_id"), (lit(2) + pmod(col("doc_id"), lit(5))).cast("int").as("n"))
      val media = Multimodal.asMedia(
        d.withColumn("payload", gen(col("doc_id"), col("n"))),
        "doc_id", "payload", "image/gif")
      Multimodal.sampleGifFrames(media, everyN = 2)
        .orderBy("media_id", "frame_idx")
    }),

    "q_multimodal_frames" -> ((s, dir) => {
      val media = Multimodal.asMedia(
        t(s, dir, "documents").withColumn("payload", col("text").cast("binary")),
        "doc_id", "payload", "video/fake", durationMs = 5000L)
      // frame_len instead of the raw frame bytes: byte-slice lengths are
      // engine-independent (oracle-able), raw blobs are not comparable
      Multimodal.sampleFrames(media, everyMs = 1000L)
        .select(col("media_id"), col("frame_idx"),
          length(col("frame_payload")).as("frame_len"))
        .orderBy("media_id", "frame_idx")
    }),

    "q_contamination" -> ((s, dir) => {
      // benchmark decontamination probe: every 50th doc plays the eval
      // suite; the train corpus holds the rest plus a mutated copy of each
      // eval doc (last word dropped, id+100000) — guaranteed contamination
      val (train, ev) = trainEvalSplit(s, dir)
      graft.text.Contamination.contaminationStats(
          train, "text", "doc_id", ev, "text", "doc_id", n = 5)
        .orderBy("train_id")
    }),

    "q_decontaminate" -> ((s, dir) => {
      val (train, ev) = trainEvalSplit(s, dir)
      graft.text.Contamination.decontaminate(
          train, "text", "doc_id", ev, "text", "doc_id", n = 5, minOverlap = 3)
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    }),

    "q_pack_docs" -> ((s, dir) =>
      // per-language sequence packing at a 1024-token budget
      TextLib.packDocuments(t(s, dir, "documents"), "text", 1024,
          partitionCols = Seq("lang"), orderCols = Seq("doc_id"))
        .select("doc_id", "lang", "n_tokens", "pack_offset", "pack_id")
        .orderBy("doc_id")),

    "q_token_divergence" -> ((s, dir) => {
      // drift between the English slice and everything else
      val d = t(s, dir, "documents")
      TextLib.tokenDivergence(
          d.filter(col("lang") === "en"), "text",
          d.filter(col("lang") =!= "en"), "text")
        .select(roundf(col("kl_ab"), 4).as("kl_ab"),
          roundf(col("kl_ba"), 4).as("kl_ba"),
          roundf(col("js"), 4).as("js"))
    }),

    "q_pack_concat" -> ((s, dir) =>
      // materialized pretraining sequences: pack assignment → ordered
      // concat; emit lengths + a prefix, not the full concat blob
      TextLib.materializePacks(
          TextLib.packDocuments(t(s, dir, "documents"), "text", 1024,
            partitionCols = Seq("lang"), orderCols = Seq("doc_id")),
          "text", partitionCols = Seq("lang"), sep = "\n\n")
        .select(col("lang"), col("pack_id"), col("n_docs"), col("pack_tokens"),
          length(col("pack_text")).as("pack_chars"),
          substring(col("pack_text"), 1, 40).as("pack_head"))
        .orderBy("lang", "pack_id")),

    "q_unicode_nfc" -> ((s, dir) =>
      // plant a combining sequence (e + U+0301) and a singleton (U+212B
      // ANGSTROM SIGN → U+00C5) so NFC provably composes something at any SF
      t(s, dir, "documents")
        .withColumn("planted", concat(col("text"), lit(" cafe\u0301 \u212B")))
        .select(col("doc_id"),
          length(col("planted")).as("len_raw"),
          length(TextLib.normalizeUnicode(col("planted"))).as("len_nfc"),
          substring(TextLib.normalizeUnicode(col("planted")), -6, 6).as("tail_nfc"))
        .orderBy("doc_id")),

    "q_quota_per_source" -> ((s, dir) =>
      // per-domain cap: at most 10 docs per source, deterministic md5-order
      // draw (cross-engine reproducible; the engine's default order is
      // xxhash64, which DuckDB can't replicate)
      graft.ops.Scale.quotaPerGroup(t(s, dir, "documents"), "source", "doc_id", 10,
          orderKey = Some(md5(concat(lit("42:"), col("doc_id").cast("string")))))
        .select("doc_id", "source")
        .orderBy("doc_id")),

    "q_dedup_incremental" -> ((s, dir) => {
      // batch = exact re-crawls (id+200000) ∪ mutated docs (id+100000);
      // snapshot = the accepted corpus. Survivors = texts the snapshot has
      // never seen (mutations — except single-word docs the mutation rule
      // leaves unchanged).
      val d = t(s, dir, "documents")
      val batch = d.withColumn("doc_id", col("doc_id") + 200000L)
        .unionByName(mutateLastWordDrop(d))
      Dedup.dedupAgainstCorpus(batch, "text", d, "text")
        .select("doc_id", "source")
        .orderBy("doc_id")
    }),

    "q_para_dedup" -> ((s, dir) => {
      // plant a shared boilerplate paragraph on every doc: the first doc
      // (by id) keeps it, everyone else loses it — paragraph-level dedup's
      // reason to exist, provable at any SF
      val d = t(s, dir, "documents")
        .withColumn("text", concat_ws("\n\n", col("text"),
          lit("Subscribe to our newsletter. Follow us on social media.")))
      Dedup.paragraphDedup(d, "text", "doc_id", minChars = 1)
        .select(col("doc_id"), col("lang"), col("n_paras"), col("n_paras_kept"),
          length(col("text")).as("n_chars_kept"),
          substring(col("text"), -20, 20).as("tail"))
        .orderBy("doc_id")
    }),

    "q_dup_spans" -> ((s, dir) => {
      // plant an 11-token sentence on every 3rd doc → a guaranteed
      // duplicated substring run; sf0.1 additionally has verbatim dup docs
      val planted = " the quick brown fox jumps over the lazy dog at midnight"
      val d = t(s, dir, "documents")
        .withColumn("text",
          when(col("doc_id") % 3 === 0, concat(col("text"), lit(planted)))
            .otherwise(col("text")))
      Dedup.duplicateSpans(d, "text", "doc_id", k = 5, minCount = 2)
        .select(col("doc_id"), col("lang"), col("n_tokens"), col("n_grams"),
          col("n_dup_grams"), col("n_spans"), col("dup_tokens"), col("max_span_tokens"),
          roundf(col("dup_ratio"), 6).as("dup_ratio"))
        .orderBy("doc_id")
    }),

    "q_cut_contaminated" -> ((s, dir) => {
      // surgical decontamination on the q_contamination fixture: the
      // mutated eval copies share every interior 5-gram with their eval
      // source, so their overlapping spans are cut while clean text (and
      // clean docs) survive verbatim — the span-level alternative to
      // q_decontaminate's whole-doc drop
      val (train, ev) = trainEvalSplit(s, dir)
      graft.text.Contamination.cutContaminatedSpans(
          train, "text", "doc_id", ev, "text", n = 5)
        .select(col("doc_id"), col("lang"), col("n_tokens"),
          col("n_removed_tokens"), col("n_kept_tokens"),
          length(col("text")).as("n_chars_kept"), md5(col("text")).as("text_md5"))
        .orderBy("doc_id")
    }),

    "q_cut_dup_spans" -> ((s, dir) => {
      // the CUT half of ExactSubstr (Lee et al. 2022): same plant as
      // q_dup_spans (an 11-token sentence on every 3rd doc) — the
      // smallest planted doc keeps its copy verbatim (canonical first
      // occurrence), every later copy has the plant's dup-covered tokens
      // removed. Oracle replays grams, the min-(doc,pos) canonical,
      // window→position coverage, and the token-stream rewrite.
      val planted = " the quick brown fox jumps over the lazy dog at midnight"
      val d = t(s, dir, "documents")
        .withColumn("text",
          when(col("doc_id") % 3 === 0, concat(col("text"), lit(planted)))
            .otherwise(col("text")))
      Dedup.cutDuplicateSpans(d, "text", "doc_id", k = 5, minCount = 2)
        .select(col("doc_id"), col("lang"), col("n_tokens"),
          col("n_removed_tokens"), col("n_kept_tokens"),
          length(col("text")).as("n_chars_kept"), md5(col("text")).as("text_md5"))
        .orderBy("doc_id")
    }),

    "q_dsir_weights" -> ((s, dir) => {
      // DSIR importance weights (Xie et al. 2023) vs a target slice of the
      // corpus: target = every 10th doc's n-gram distribution, raw = the
      // rest. The exact string-feature variant is the oracle path — DuckDB
      // replays tokenization, unigram+bigram MULTISET counts, Laplace
      // smoothing over the joint observed vocabulary, and the per-doc sum.
      // (The hashed-bucket scale variant is differentially pinned against
      // a driver-side replay in DsirSpec.)
      val d = t(s, dir, "documents")
      graft.text.Dsir.logWeights(
          d.filter(col("doc_id") % 10 =!= 0),
          d.filter(col("doc_id") % 10 === 0), "text", "doc_id")
        .select(col("doc_id"), roundf(col("log_weight"), 6).as("log_weight"))
        .orderBy("doc_id")
    }),

    "q_dsir_select" -> ((s, dir) => {
      // the COMPOSITION seam of Dsir.select (VERDICT r9 #4): logWeights →
      // exp-normalize by the global max (one scalar agg) → deterministic
      // A-ES top-k. Same raw/target split as q_dsir_weights; k=100 < the
      // 450-row raw side at every SF. Output is the selection SET sorted
      // by doc_id with the 6dp-rounded weight — not the float es ranks:
      // membership only flips if adjacent es order stats sit within the
      // ~1e-12 cross-engine drift of the unrounded per-doc float sums,
      // and the fixture's gaps are orders of magnitude wider.
      val d = t(s, dir, "documents")
      graft.text.Dsir.select(
          d.filter(col("doc_id") % 10 =!= 0),
          d.filter(col("doc_id") % 10 === 0), "text", "doc_id", k = 100)
        .select(col("doc_id"), roundf(col("log_weight"), 6).as("log_weight"))
        .orderBy("doc_id")
    }),

    "q_length_histogram" -> ((s, dir) =>
      TextLib.lengthHistogram(t(s, dir, "documents"), "n_chars")
        .select(col("len_bin"), col("n_rows"), col("len_lo"), col("len_hi"),
          col("len_min"), col("len_max"),
          roundf(col("len_avg"), 4).as("len_avg"),
          roundf(col("share"), 6).as("share"))
        .orderBy("len_bin")),

    "q_embed_quantize" -> ((s, dir) => {
      // int8 max-abs quantization summarized per vector: pinned double math
      // (x*127.0/scale + 0.5, floor) is bit-reproducible in DuckDB
      val qd = graft.vec.VectorOps.quantizeInt8(t(s, dir, "embeddings"), "embedding")
      qd.select(col("vec_id"),
          size(col("embedding")).as("dim"),
          roundf(col("q_scale"), 6).as("q_scale"),
          aggregate(filter(col("q"), _.isNotNull), lit(0L),
            (a, x) => a + x.cast("long")).as("q_sum"),
          array_min(col("q")).cast("int").as("q_min"),
          array_max(col("q")).cast("int").as("q_max"))
        .orderBy("vec_id")
    }),

    "q_shard_assign" -> ((s, dir) =>
      graft.ops.Scale.shardAssign(t(s, dir, "documents"), "doc_id", numShards = 8)
        .select("doc_id", "shard", "pos")
        .orderBy("doc_id")),

    "q_bpe_merges" -> ((s, dir) =>
      // tokenizer-training precursor: 50 BPE merges on the documents corpus
      // (merge loop is engine-specific — rows-only check; BpeSpec pins the
      // classic hand-computed merge sequence)
      graft.text.Bpe.mergesDF(t(s, dir, "documents"), "text", numMerges = 50)
        .orderBy("rank")),

    "q_sample_budget" -> ((s, dir) =>
      // ~3000 chars of documents per source; md5-derived gate so DuckDB
      // re-derives the exact kept set (engine default is xxhash64)
      graft.ops.Scale.sampleToBudget(t(s, dir, "documents"), "n_chars", "source", "doc_id",
          budget = 3000L,
          gate = Some(md5Gate("7:")))
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id")),

    "q_sample_temperature" -> ((s, dir) =>
      // alpha-sampling toward ~300 kept docs with p_lang ∝ n^0.5;
      // md5-derived gate so DuckDB re-derives the exact kept set
      graft.ops.Scale.temperatureSample(t(s, dir, "documents"), "lang", "doc_id",
          alpha = 0.5, totalRows = 300,
          gate = Some(md5Gate("9:")))
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")),

    "q_unimax_alloc" -> ((s, dir) => {
      // UniMax water-filling: budget = ⌊1.6·total chars⌋ at 2-epoch cap —
      // mid-waterfall at every SF (the small langs cap at 2 epochs, the
      // big ones level-share the remainder), so both branches of the
      // closed form execute. The whole waterfall is integer arithmetic;
      // DuckDB replays it exactly (HUGEINT = the decimal(38,0) promotion).
      val d = t(s, dir, "documents")
      val total = d.agg(sum(col("n_chars"))).head().getLong(0)
      val budget = math.floor(1.6 * total.toDouble + 1e-6).toLong
      graft.ops.Scale.unimaxAllocation(d, "lang", "n_chars", budget, maxEpochs = 2.0)
        .select(col("lang"), col("group_weight"), col("cap"), col("capped"),
          roundf(col("allocation"), 4).as("allocation"),
          roundf(col("epochs"), 6).as("epochs"))
        .orderBy("lang")
    }),

    "q_unimax_sample" -> ((s, dir) => {
      // materialized UniMax mixture: per-lang epochs from the allocation,
      // fractional epochs resolved by the md5 gate DuckDB re-derives
      val d = t(s, dir, "documents")
      val total = d.agg(sum(col("n_chars"))).head().getLong(0)
      val budget = math.floor(1.6 * total.toDouble + 1e-6).toLong
      graft.ops.Scale.unimaxSample(d, "lang", "n_chars", "doc_id", budget,
          maxEpochs = 2.0, gate = Some(md5Gate("17:")))
        .select("doc_id", "lang", "epoch")
        .orderBy("doc_id", "epoch")
    }),

    "q_lsh_tune" -> ((s, dir) =>
      // parameter plan for the minhash defaults (64 hashes, 0.5 target
      // Jaccard): S-curve FP/FN areas per factorization + the argmin rank.
      // Purely analytic — the oracle replays the same midpoint sum.
      graft.text.Dedup.tuneLsh(s, numHashes = 64, threshold = 0.5)
        .orderBy("bands")),

    "q_gopher_rules" -> ((s, dir) => {
      // Gopher heuristic gate over per-class planted pathologies so every
      // rule provably fires at any SF (bullet walls, trailing ellipses,
      // symbol spam, numeric floods, a stopword-rich control); the oracle
      // replays plant + all seven rules + the reason string
      val cls = col("doc_id") % 5
      val planted = t(s, dir, "documents").withColumn("text",
        when(cls === 0, concat(col("text"),
          lit("\n- one\n- two\n- three\n- four\n- five\n- six\n- seven\n- eight\n- nine\n- ten")))
          .when(cls === 1, concat(col("text"),
            lit(" see more...\nnext line trails off...\nanother...\nyet another...")))
          .when(cls === 2, concat(col("text"), lit(" ## ## ## ## ## ## ## ##")))
          .when(cls === 3, concat(col("text"),
            lit(" 111 222 333 444 555 666 777 888 999 000 123 456 789 012 345 678 901 234 567 890")))
          .otherwise(concat(col("text"), lit(" to be of and that have with"))))
      TextLib.gopherRules(planted, "text", minWords = 30)
        .select(col("doc_id"), col("gopher_word_count_ok"), col("gopher_mean_word_len_ok"),
          col("gopher_symbol_ratio_ok"), col("gopher_bullet_lines_ok"),
          col("gopher_ellipsis_lines_ok"), col("gopher_alpha_words_ok"),
          col("gopher_stopwords_ok"), col("gopher_keep"), col("gopher_fail_reasons"))
        .orderBy("doc_id")
    }),

    "q_gopher_multilingual" -> ((s, dir) => {
      // per-LANGUAGE Gopher gate (round 12, VERDICT r11 #3): the two
      // anglocentric rules dispatch on the lang label — four languages
      // with DIFFERENT stopword lists, floors, and alpha regexes; zh has
      // no entry and takes the neutral fallback (both rules pass, the
      // five script-agnostic rules still gate). Plants fire the stopword
      // rule both ways per language (%3=0 appends every list's markers,
      // %3=2 appends digit tokens that dilute the alpha ratio), and the
      // oracle replays plant + dispatch + all seven rules.
      val cls = col("doc_id") % 3
      val planted = t(s, dir, "documents").withColumn("text",
        when(cls === 0, concat(col("text"),
          lit(" of and la el que der und est le")))
          .when(cls === 2, concat(col("text"),
            lit(" 111 222 333 444 555 666 777 888")))
          .otherwise(col("text")))
      val perLang = Map(
        "en" -> TextLib.GopherLangParams(Seq("the", "and", "of", "to"), minStopwords = 2),
        "es" -> TextLib.GopherLangParams(Seq("el", "la", "que"), minStopwords = 2,
          alphaRegex = "\\p{L}", minAlphaRatio = 0.5),
        "de" -> TextLib.GopherLangParams(Seq("der", "die", "und", "ist"), minStopwords = 1,
          alphaRegex = "\\p{L}", minAlphaRatio = 0.9),
        "fr" -> TextLib.GopherLangParams(Seq("le", "est"), minStopwords = 1))
      TextLib.gopherRulesByLang(planted, "text", "lang", perLang, minWords = 10)
        .select(col("doc_id"), col("lang"), col("gopher_word_count_ok"),
          col("gopher_mean_word_len_ok"), col("gopher_symbol_ratio_ok"),
          col("gopher_bullet_lines_ok"), col("gopher_ellipsis_lines_ok"),
          col("gopher_alpha_words_ok"), col("gopher_stopwords_ok"),
          col("gopher_keep"), col("gopher_fail_reasons"))
        .orderBy("doc_id")
    }),

    "q_dedup_lines" -> ((s, dir) => {
      // within-doc repeated-line removal over planted boilerplate: class 0
      // repeats a share-bar line 3×, class 1 appends unique lines, class 2
      // repeats a short line between EXEMPT blank lines (minChars=1 keeps
      // paragraph breaks); md5 of the rebuilt text keeps the gate compact
      val cls = col("doc_id") % 3
      val planted = t(s, dir, "documents").withColumn("text",
        when(cls === 0, concat(col("text"),
          lit("\nfollow us on social\nunique tail one\nfollow us on social\nfollow us on social")))
          .when(cls === 1, concat(col("text"), lit("\nline a\nline b")))
          .otherwise(concat(col("text"), lit("\n\nshort\n\nshort"))))
      // n_lines computed BEFORE the in-place rewrite (no duplicate text
      // column, no second split — round-10 review)
      TextLib.dedupLines(planted.withColumn("n_lines", size(split(col("text"), "\n"))),
          "text")
        .select(col("doc_id"), col("n_lines"), col("n_removed_lines"),
          md5(col("text")).as("dedup_md5"))
        .orderBy("doc_id")
    }),

    "q_curation_recipe" -> ((s, dir) => {
      // END-TO-END recipe COMPOSITION gate: plant boilerplate → dedup_lines
      // (in-place rewrite) → gopher gate (filter on the REWRITTEN text) →
      // exact dedup against planted whole-document copies. Pins the
      // inter-op contracts (rewrite feeds the gate, survivors feed dedup)
      // that the per-op gates cannot see — the oracle replays the whole
      // chain in one CTE pipeline.
      val cls = col("doc_id") % 3
      val base = t(s, dir, "documents").withColumn("text",
        when(cls === 0, concat(col("text"),
          lit("\nfollow us on social\nmore text here\nfollow us on social")))
          .otherwise(col("text")))
      val withCopies = base.select("doc_id", "text").unionByName(
        base.filter(col("doc_id") % 2 === 0)
          .select((col("doc_id") + 600000L).as("doc_id"), col("text")))
      // dedup BEFORE the quality gate: recipe-equivalent for exact
      // duplicates (the gate is a pure function of the text, so it decides
      // identically for every copy), and it parks the expensive rule-tree
      // filter ABOVE the dedup exchange — a gate-then-dedup order would
      // push the substituted gopher trees into the parquet scan's data
      // filters (the round-7 filter-on-computed-alias pathology; PlanLint's
      // expensive_scan_filter caught exactly that in this query's first
      // formulation)
      val lineDeduped = TextLib.dedupLines(withCopies, "text")
      val deduped = Dedup.exact(lineDeduped, "text", "doc_id")
      TextLib.gopherRules(deduped, "text", minWords = 30, minStopwords = 1)
        .filter(col("gopher_keep"))
        .select(col("doc_id"), col("n_removed_lines"), md5(col("text")).as("text_md5"))
        .orderBy("doc_id")
    }),

    "q_c4_clean" -> ((s, dir) => {
      // the C4 line+page rules on planted classes: %4=0 gains five good
      // sentence-lines plus a too-short line and a javascript line (both
      // dropped); %8=0 additionally carries the badword → page-dropped
      // while %8=4 keeps; %4=1 gains only two sentences (under the floor);
      // %4=2 gains the five good lines AND "lorem ipsum" (page-dropped);
      // %4=3 is untouched. DuckDB replays every rule from the raw table.
      val good = "\nA good line with punctuation.\nAnother fine sentence here today!" +
        "\nYes this line also ends well?\nShort no.\njavascript line is removed ok." +
        "\nFive more words arrive here.\nAnd a final sentence lands."
      val two = "\nOnly two good sentences here.\nAnd one more proper line."
      val planted = t(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 4 === 0,
          concat(col("text"),
            when(col("doc_id") % 8 === 0, lit(" grumbo")).otherwise(lit("")), lit(good)))
          .when(col("doc_id") % 4 === 1, concat(col("text"), lit(two)))
          .when(col("doc_id") % 4 === 2, concat(col("text"), lit(" lorem ipsum"), lit(good)))
          .otherwise(col("text")).as("text"))
      TextLib.c4Rules(planted, "text", minWordsPerLine = 3, minSentences = 5,
          badwords = Seq("grumbo"))
        .select(col("doc_id"), col("c4_n_lines_kept"), col("c4_n_sentences"),
          col("c4_keep"), md5(col("text")).as("text_md5"))
        .orderBy("doc_id")
    }),

    "q_soft_dedup" -> ((s, dir) => {
      // SoftDeDup: reweight instead of drop — planted exact copies at
      // +900000 make dup_count 2 groups by construction; DuckDB replays
      // the group sizes over the normalized text (the sha2 key's
      // equivalence classes) and the 1/n weights
      val d = t(s, dir, "documents").select("doc_id", "text")
      val withCopies = d.unionByName(d.filter(col("doc_id") % 4 === 0)
        .select((col("doc_id") + 900000L).as("doc_id"), col("text")))
      TextLib.softDedupWeights(withCopies, "text")
        .select(col("doc_id"), col("dup_count"), col("soft_weight"))
        .orderBy("doc_id")
    }),

    "q_repetition_signals" -> ((s, dir) => {
      // the full Gopher A1.1 repetition family on planted spam: every 3rd
      // doc gains a twice-repeated line (dup_line signals), every 4th a
      // repeated 5-gram (dup_ngram); top_ngram fires on natural bigram
      // repetition everywhere. DuckDB replays lines, gram counts, the
      // (count desc, gram asc) top election, and all four fractions.
      val planted = t(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 3 === 0,
          concat(col("text"), lit("\nrepeat me line\nrepeat me line")))
          .otherwise(col("text")).as("text"))
        .select(col("doc_id"),
          when(col("doc_id") % 4 === 0,
            concat(col("text"), lit(" r1 r2 r3 r4 r5 r1 r2 r3 r4 r5")))
            .otherwise(col("text")).as("text"))
      TextLib.repetitionSignals(planted, "text", "doc_id", topN = 2, dupN = 5)
        .select(col("doc_id"), col("dup_line_frac"), col("dup_line_char_frac"),
          col("top_ngram_char_frac"), col("dup_ngram_char_frac"))
        .orderBy("doc_id")
    }),

    "q_recipe_attrition" -> ((s, dir) => {
      // stage-attrition accounting (round 11, VERDICT r10 #5): rows + a
      // declared weight column (n_chars) in/out per recipe stage, metered
      // by observe() nodes riding ONE noop pass of the 4-stage chain — no
      // per-stage count jobs. DuckDB recomputes every stage boundary from
      // the raw table; integer-exact throughout.
      import graft.core.{OpCompiler, OpSpec => OS}
      val ops = Seq[graft.core.OpSpec](
        OS.FilterCondition("doc_id % 5 <> 1"),
        OS.Calculate("n_chars", "n_chars - 10"),
        OS.FilterCondition("n_chars >= 190"),
        OS.FilterCondition("lang IN ('en','de')"))
      val (out, report) = OpCompiler.compileObserved(ops, null,
        Some("n_chars"))(t(s, dir, "documents").select("doc_id", "lang", "n_chars"))
      val (_, profile) = graft.core.RunProfile.record(s)(out.write.format("noop").mode("overwrite").save())
      import s.implicits._
      report(profile).map(a => (a.stage, a.op, a.rowsIn, a.rowsOut, a.rowsDropped,
          a.weightIn, a.weightOut))
        .toDF("stage", "op", "rows_in", "rows_out", "rows_dropped",
          "weight_in", "weight_out")
        .orderBy("stage")
    }),

    "q_quality_classifier" -> ((s, dir) => {
      // LAW gate (round 6): L-BFGS coefficients are float-order-dependent,
      // but logistic regression is CONVEX — the optimum is essentially
      // unique — so two laws are stable contracts: every probability lies
      // in [0, 1], and the trained model SEPARATES its own pseudo-labels
      // (mean prob of label-1 docs > mean prob of label-0 docs; the
      // QualityFeSpec separation law promoted into the driver's oracle).
      // The oracle also pins that every document was scored.
      val feats = TextLib.qualityFeatures(t(s, dir, "documents"), "text")
      val scored = TextLib.unigramScore(feats, "text", "doc_id", vocabSize = 2000)
      val labeled = graft.quality.QualityClassifier.pseudoLabelByQuantile(scored, "lm_logprob")
      val m = graft.quality.QualityClassifier.train(labeled, "quality_label",
        Seq("punct_ratio", "digit_ratio", "upper_ratio", "mean_word_len",
          "stopword_ratio", "n_words"))
      graft.quality.QualityClassifier.score(labeled, m)
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("quality_prob").isNull ||
            col("quality_prob") < 0 || col("quality_prob") > 1, 1L).otherwise(0L))
            .as("n_bad_prob"),
          (avg(when(col("quality_label") === 1, col("quality_prob"))) >
            avg(when(col("quality_label") === 0, col("quality_prob"))))
            .as("separates"))
    }),

    "q_script_profile" -> ((s, dir) =>
      // plant a multi-script suffix so every script class provably counts
      // at any SF; ratios rounded at the edge per convention
      TextLib.scriptProfile(
          t(s, dir, "documents")
            .withColumn("text", concat(col("text"), lit(" Привет مرحبا 你好 ok 42"))),
          "text")
        .select(col("doc_id"), col("n_chars_sc"),
          roundf(col("latin_ratio"), 6).as("latin_ratio"),
          roundf(col("han_ratio"), 6).as("han_ratio"),
          roundf(col("cyrillic_ratio"), 6).as("cyrillic_ratio"),
          roundf(col("arabic_ratio"), 6).as("arabic_ratio"),
          roundf(col("digit_ratio_sc"), 6).as("digit_ratio_sc"),
          roundf(col("other_ratio_sc"), 6).as("other_ratio_sc"))
        .orderBy("doc_id")),

    "q_snapshot_diff" -> ((s, dir) => {
      // new snapshot = old minus %11 ids, with %7 texts edited, plus %13
      // re-ids — every status provably occurs at any SF
      val d = t(s, dir, "documents")
      val newDf = d.filter(col("doc_id") % 11 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 7 === 0, concat(col("text"), lit(" edited")))
            .otherwise(col("text")))
        .unionByName(d.filter(col("doc_id") % 13 === 0)
          .withColumn("doc_id", col("doc_id") + 500000L))
      Dedup.snapshotDiff(d, newDf, "doc_id", "text")
        .orderBy("doc_id")
    }),

    "q_winnow" -> ((s, dir) =>
      // fingerprint VALUES are xxhash64-family → rows-only gate; the
      // overlap guarantees are spec-pinned (DedupSimilaritySpec)
      t(s, dir, "documents")
        .select(col("doc_id"), TextLib.winnowFingerprint(col("text"), 5, 4).as("fp"))
        .select(col("doc_id"), size(col("fp")).as("n_fp"),
          // try_element_at: a doc shorter than k tokens yields an EMPTY
          // fingerprint set, and under ANSI mode element_at(fp, 1) would
          // throw INVALID_ARRAY_INDEX instead of returning null
          try_element_at(col("fp"), lit(1)).as("fp_min"))
        .orderBy("doc_id")),

    "q_assign_split" -> ((s, dir) =>
      // deterministic 80/10/10 split; md5 gate for cross-engine derivation
      graft.ops.Scale.assignSplit(t(s, dir, "documents"), "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
          gate = Some(md5Gate("11:")))
        .select("doc_id", "lang", "split")
        .orderBy("doc_id")),

    "q_split_leakage_safe" -> ((s, dir) => {
      // exact copies of every 5th doc under shifted ids: a copy MUST land
      // in its source's split (hash-splitting on doc_id would scatter the
      // family — the eval-leakage hole). Gate on the exact-dup cluster key
      // (min id per normalized text), md5-derived for cross-engine replay.
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val u = d.unionByName(d.filter(col("doc_id") % 5 === 0)
        .withColumn("doc_id", col("doc_id") + 500000L))
      val clusters = Dedup.exactDupMap(u, "text", "doc_id")
        .select(col("member").as("id"), col("survivor").as("cluster_id"))
      graft.ops.Scale.assignSplitLeakageSafe(u, "doc_id", clusters,
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
          gateOf = Some(k =>
            conv(substring(md5(concat(lit("12s:"), k.cast("string"))), 1, 15), 16, 10)
              .cast("long") % 1000000L))
        .select(col("doc_id"), col("split"))
        .orderBy("doc_id")
    }),

    "q_repeat_epochs" -> ((s, dir) =>
      // 2.5 epochs of English, 0.5 of German, 1 of everything else
      graft.ops.Scale.repeatEpochs(t(s, dir, "documents"), "lang", "doc_id",
          Map("en" -> 2.5, "de" -> 0.5),
          gate = Some(md5Gate("13:")))
        .select("doc_id", "lang", "epoch")
        .orderBy("doc_id", "epoch")),

    "q_lm_score" -> ((s, dir) =>
      // self-trained unigram LM; vocabSize 2000 < distinct tokens at every
      // SF, so the OOV floor provably fires
      TextLib.unigramScore(t(s, dir, "documents"), "text", "doc_id", vocabSize = 2000)
        .select(col("doc_id"), col("n_tokens"),
          roundf(col("lm_logprob"), 4).as("lm_logprob"))
        .orderBy("doc_id")),

    "q_ppl_buckets" -> ((s, dir) =>
      // CCNet head/middle/tail: per-language ntile(3) over the 6dp-rounded
      // unigram LM logprob (desc = lowest perplexity first), ties by
      // doc_id. Same self-trained vocab-2000 model as q_lm_score, so the
      // oracle reuses that replay verbatim.
      TextLib.perplexityBuckets(t(s, dir, "documents"), "text", "doc_id",
          groupCols = Seq("lang"), nBuckets = 3, vocabSize = 2000)
        .select(col("doc_id"), col("lang"), col("n_tokens"), col("ppl_bucket"))
        .orderBy("doc_id")),

    "q_ppl_fit_apply_law" -> ((s, dir) => {
      // the CCNet fit/apply split (round 10): pplFit freezes per-lang
      // bucket floors from the batch ntile; pplApply scores via the
      // pure-map LmVocab kernel and compares to the frozen floors. The law:
      // apply == ntile everywhere EXCEPT scores tying a boundary, where
      // apply lands in the head-most bucket whose floor equals the score
      // (= min ntile bucket over the tie group). The oracle replays the
      // whole thing analytically — model, ntile, floors, counting apply,
      // tie minimum — so law_ok is pinned TRUE row by row, not just
      // asserted in-engine.
      import org.apache.spark.sql.expressions.Window
      val d = t(s, dir, "documents")
      val model = TextLib.pplFit(d, "text", "doc_id", Seq("lang"),
        nBuckets = 3, vocabSize = 2000)
      val applied = TextLib.pplApply(d, "text", model)
        .select(col("doc_id"), col("lang"),
          col("ppl_bucket").as("bucket_apply"),
          round(col("lm_logprob") + lit(1e-9), 6).as("__r"))
      val nt = TextLib.perplexityBuckets(d, "text", "doc_id", Seq("lang"),
          nBuckets = 3, vocabSize = 2000)
        .select(col("doc_id"), col("ppl_bucket").as("bucket_ntile"))
      val wt = Window.partitionBy(col("lang"), col("__r"))
      applied.alias("__pa").join(nt.alias("__pn"), Seq("doc_id"))
        .withColumn("__mb", min(col("bucket_ntile")).over(wt))
        .select(col("doc_id"), col("lang"), col("bucket_ntile"), col("bucket_apply"),
          (col("bucket_apply") <=> col("bucket_ntile") ||
            col("bucket_apply") <=> col("__mb")).as("law_ok"))
        .orderBy("doc_id")
    }),

    "q_lm_bigram" -> ((s, dir) =>
      // Stupid-Backoff bigram LM, self-trained; vocab and bigram caps both
      // below the corpus distinct counts at every SF so every branch of the
      // backoff (seen bigram / backoff-to-vocab / OOV floor / position 1)
      // provably fires
      TextLib.bigramScore(t(s, dir, "documents"), "text", "doc_id",
          vocabSize = 2000, bigramSize = 3000)
        .select(col("doc_id"), col("n_tokens"),
          roundf(col("lm2_logprob"), 4).as("lm2_logprob"))
        .orderBy("doc_id")),

    "q_image_dhash" -> ((s, dir) => {
      // REAL decode → perceptual hash: quadratic-pattern PNGs (distinct
      // hashes per seed), with every doc_id%50==1 sharing its predecessor's
      // seed — planted identical images. Exact integer dHash arithmetic
      // means the oracle replays every hash from the pattern formula.
      val gen = udf((seed: Long) => Multimodal.syntheticPng2(seed, 24, 16))
      val d = t(s, dir, "documents")
        .withColumn("seed", col("doc_id") -
          when(pmod(col("doc_id"), lit(50)) === 1, 1).otherwise(0))
      Multimodal.imageDHash(d.withColumn("payload", gen(col("seed"))), "payload")
        .select(col("doc_id"), col("dhash"))
        .orderBy("doc_id")
    }),

    "q_image_neardup" -> ((s, dir) => {
      // same corpus → 4×16-bit block candidates → exact bit_count verify;
      // output = planted hamming-0 pairs plus any formula-coincident close
      // pair (the oracle computes the identical set from the hashes)
      val gen = udf((seed: Long) => Multimodal.syntheticPng2(seed, 24, 16))
      val d = t(s, dir, "documents")
        .withColumn("seed", col("doc_id") -
          when(pmod(col("doc_id"), lit(50)) === 1, 1).otherwise(0))
      val hashed = Multimodal.imageDHash(d.withColumn("payload", gen(col("seed"))), "payload")
      Multimodal.imageNearDupPairs(hashed, "doc_id")
        .select(col("id_a"), col("id_b"), col("hamming").cast("int").as("hamming"))
        .orderBy("id_a", "id_b")
    }),

    "q_bm25" -> ((s, dir) => {
      import s.implicits._
      // three probes: multi-term, repeated-term-in-query (distinct pairs
      // collapse it), and a query carrying a corpus-absent term (the term
      // contributes nothing, the query still retrieves on its live terms)
      val qs = Seq((1L, "spark hash join"), (2L, "window window sort merge stream"),
        (3L, "vector scan zzzmissing")).toDF("query_id", "qtext")
      graft.text.Search.bm25TopK(t(s, dir, "documents"), "text", "doc_id",
          qs, "query_id", "qtext", k = 10)
        .orderBy("query_id", "rank")
    })
  )

  /** Shared fixture for the contamination queries: (train corpus, eval suite). */
  private def trainEvalSplit(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val d = t(s, dir, "documents")
    val ev = d.filter(col("doc_id") % 50 === 0)
    val train = d.filter(col("doc_id") % 50 =!= 0).unionByName(mutateLastWordDrop(ev))
    (train, ev)
  }

  /** langId oracle: built from the SAME marker lists the engine uses
    * (TextLib.Markers) — per-language stopword-occurrence ratio, argmax with
    * Spark's struct-greatest tie-break (max score, then max lang code).
    */
  private val langIdSql: String = {
    val markers = graft.text.TextLib.Markers
    val scoreCols = markers.map { case (lang, stops) =>
      val inList = stops.map(s => s"'$s'").mkString(", ")
      s"len(list_filter(ws, w -> w IN ($inList))) * 1.0 / len(ws) AS s_$lang"
    }.mkString(",\n  ")
    val bestExpr = markers.map(m => s"s_${m._1}").mkString("greatest(", ", ", ")")
    val pick = markers.map(_._1).sorted.reverse.map(l => s"WHEN s_$l = best THEN '$l'").mkString(" ")
    s"""WITH tok AS (
       |  SELECT doc_id, lang,
       |    string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS ws
       |  FROM documents),
       |sc AS (SELECT doc_id, lang,
       |  $scoreCols
       |  FROM tok),
       |b AS (SELECT *, $bestExpr AS best FROM sc)
       |SELECT doc_id, lang,
       |  CASE WHEN best > 0.02 THEN (CASE $pick END) ELSE 'und' END AS lang_pred
       |FROM b ORDER BY doc_id""".stripMargin
  }

  /** Shared CTE chain for the contamination oracles: the train/eval split of
    * trainEvalSplit, distinct word 5-gram shingles of both sides (DuckDB
    * list ops, same construction the n-gram Jaccard oracle uses), and the
    * train-shingle × eval-index join.
    */
  private val contaminationCte: String =
    """WITH ev AS (SELECT doc_id, text, lang, n_chars FROM documents WHERE doc_id % 50 = 0),
      |tr AS (
      |  SELECT doc_id, text, lang, n_chars FROM documents WHERE doc_id % 50 <> 0
      |  UNION ALL
      |  SELECT doc_id + 100000, regexp_replace(text, '\s+\S+\s*$', ''), lang, n_chars FROM ev),
      |evsh AS (
      |  SELECT doc_id AS eval_id, unnest(list_distinct(
      |    CASE WHEN len(ws) < 5 THEN [array_to_string(ws, ' ')]
      |         ELSE list_transform(range(1, len(ws) - 3),
      |                i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4])
      |    END)) AS s
      |  FROM (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS ws FROM ev)),
      |trsh AS (
      |  SELECT doc_id AS train_id, unnest(list_distinct(
      |    CASE WHEN len(ws) < 5 THEN [array_to_string(ws, ' ')]
      |         ELSE list_transform(range(1, len(ws) - 3),
      |                i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4])
      |    END)) AS s
      |  FROM (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS ws FROM tr)),
      |hits AS (SELECT t.train_id, e.s, e.eval_id FROM trsh t JOIN evsh e USING (s))""".stripMargin

  /** Golden-file gate for hash-family queries whose VALUES are engine-side
    * (xxhash64 minhash/simhash signatures, seeded hyperplanes, BPE merge
    * replay): the committed sf0.01 output is re-read by DuckDB and compared
    * row-for-row against a fresh engine run. External correctness (recall
    * laws, no-Cartesian plans, classic BPE sequences) stays spec-gated; the
    * golden pins cross-round regressions the rows-only check could not see.
    * Partitioning-independence was verified by diffing runs at different
    * core counts before committing each file (DedupSimilaritySpec also
    * pins run-to-run determinism). Since round 12 session 2 the ENTIRE
    * golden family carries goldens at ALL THREE gate SFs
    * (goldens/sf0.001/, sf0.01/, sf0.1/ — each cross-core-count verified
    * via scripts/regen_goldens.sh before commit); Verify re-points this
    * SQL's path to goldens/<sfLabel>/ per the run's SF, so the 3-SF gate
    * needs no exclusions.
    */
  private def golden(name: String): String =
    s"""-- GOLDEN gate (sf0.01, the driver's gate SF): pinned engine output
       |SELECT * FROM read_parquet('/root/repo/goldens/sf0.01/$name.parquet')""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_lang_id" -> langIdSql,

    "q_lang_id_model" ->
      """WITH d AS (
        |  SELECT doc_id, lang,
        |    trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
        |  FROM documents),
        |fit AS (SELECT lang, t FROM d
        |        WHERE doc_id % 3 <> 2 AND lang IS NOT NULL AND t IS NOT NULL),
        |g0 AS (
        |  SELECT lang, t,
        |    unnest(range(1, CASE WHEN len(t) <= 3 THEN 2 ELSE len(t) - 1 END)) AS i
        |  FROM fit WHERE len(t) > 0),
        |g AS (
        |  SELECT lang,
        |    CASE WHEN len(t) <= 3 THEN t ELSE substr(t, CAST(i AS INT), 3) END AS gram
        |  FROM g0),
        |cnt AS (SELECT lang, gram, count(*) AS tf FROM g GROUP BY 1, 2),
        |tot AS (SELECT lang, sum(tf) AS tl FROM cnt GROUP BY 1),
        |top AS (SELECT lang, gram, tf FROM (
        |    SELECT *, row_number() OVER (PARTITION BY lang ORDER BY tf DESC, gram ASC) AS rn
        |    FROM cnt) WHERE rn <= 2000),
        |model AS (
        |  SELECT top.lang, gram, ln(CAST(tf AS DOUBLE) / tl) AS lp
        |  FROM top JOIN tot USING (lang)),
        |ag0 AS (
        |  SELECT doc_id, t,
        |    unnest(range(1, CASE WHEN len(t) <= 3 THEN 2 ELSE len(t) - 1 END)) AS i
        |  FROM d WHERE t IS NOT NULL AND len(t) > 0),
        |ag AS (
        |  SELECT doc_id,
        |    CASE WHEN len(t) <= 3 THEN t ELSE substr(t, CAST(i AS INT), 3) END AS gram
        |  FROM ag0),
        |fl AS (SELECT lang, -ln(CAST(tl AS DOUBLE)) AS floor_lp FROM tot),
        |sc AS (
        |  SELECT ag.doc_id, fl.lang,
        |    round(avg(coalesce(m.lp, fl.floor_lp)) + 1e-9, 6) AS s
        |  FROM ag CROSS JOIN fl
        |  LEFT JOIN model m ON m.lang = fl.lang AND m.gram = ag.gram
        |  GROUP BY 1, 2),
        |best AS (
        |  SELECT doc_id, lang AS pl, s,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY s DESC, lang DESC) AS rn
        |  FROM sc)
        |SELECT d.doc_id, d.lang,
        |  coalesce(b.pl, 'und') AS lang_pred, b.s AS lang_score
        |FROM d LEFT JOIN (SELECT doc_id, pl, s FROM best WHERE rn = 1) b USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    "q_fingerprint" -> golden("q_fingerprint"),
    "q_winnow" -> golden("q_winnow"),
    "q_dedup_simhash" -> golden("q_dedup_simhash"),
    "q_bpe_merges" -> golden("q_bpe_merges"),
    "q_dedup_minhash" -> golden("q_dedup_minhash"),
    "q_near_dedup" -> golden("q_near_dedup"),

    // keep-best election on the md5 fixture: DuckDB re-derives the chain
    // edges and quality, computes min-label components with a recursive
    // CTE, and elects per cluster by (quality DESC, doc_id ASC)
    "q_near_dedup_keepbest" ->
      """WITH RECURSIVE d AS (
        |  SELECT doc_id,
        |    CAST(CAST('0x' || substr(md5('kbq:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
        |      % 1000000 % 97 AS INT) AS quality
        |  FROM documents),
        |e AS (
        |  SELECT doc_id - 1 AS a, doc_id AS b FROM documents
        |  WHERE CAST('0x' || substr(md5('kbe:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
        |      % 1000000 % 3 <> 0
        |    AND doc_id - 1 IN (SELECT doc_id FROM documents)),
        |sym AS (SELECT a AS src, b AS dst FROM e UNION ALL SELECT b, a FROM e),
        |reach AS (
        |  SELECT src AS node, src AS label FROM sym
        |  UNION
        |  SELECT s.dst, r.label FROM reach r JOIN sym s ON s.src = r.node),
        |lab AS (SELECT node AS doc_id, min(label) AS cluster_id FROM reach GROUP BY node),
        |f AS (
        |  SELECT d.doc_id, d.quality, coalesce(l.cluster_id, d.doc_id) AS cluster_id
        |  FROM d LEFT JOIN lab l ON l.doc_id = d.doc_id),
        |surv AS (
        |  SELECT doc_id FROM (
        |    SELECT doc_id,
        |      row_number() OVER (PARTITION BY cluster_id ORDER BY quality DESC, doc_id ASC) AS rn
        |    FROM f) WHERE rn = 1)
        |SELECT f.doc_id, f.quality, f.cluster_id
        |FROM f JOIN surv s ON s.doc_id = f.doc_id
        |ORDER BY f.doc_id""".stripMargin,
    "q_dedup_clusters" -> golden("q_dedup_clusters"),
    "q_embed_neardup" -> golden("q_embed_neardup"),
    // round 8 (VERDICT r7 #3): the featurizer is deterministic (seeded
    // xxhash64 over the payload), so its sf0.01 output pins like any other
    // engine-valued hash family; SF-independent shape laws live in
    // q_multimodal_stub_features_law
    "q_multimodal_stub_features" -> golden("q_multimodal_stub_features"),
    "q_ann_lsh" -> golden("q_ann_lsh"),

    // recall-LAW oracles: the query computes recall@10 of the approximate
    // path against the in-plan exact brute-force top-k and emits one
    // boolean per query id; the oracle independently pins the query-id set
    // and the all-pass verdict (see the query scaladocs for the bound)
    "q_ann_ivf" ->
      """SELECT vec_id AS query_id, TRUE AS full_probe_matches_exact,
        |  TRUE AS partial_recall_ok
        |FROM embeddings WHERE vec_id < 5 ORDER BY query_id""".stripMargin,
    "q_ann_ivfpq" ->
      """SELECT vec_id AS query_id, TRUE AS recall_ok
        |FROM embeddings WHERE vec_id < 5 ORDER BY query_id""".stripMargin,

    "q_dedup_minhash_incr" ->
      // the plant is the oracle: every copied doc must match its source
      // (est 1.0 — identical signatures), every fresh doc must match
      // nothing (disjoint shingles)
      """SELECT doc_id + 500000 AS doc_id, TRUE AS matched, TRUE AS src_matched
        |FROM documents WHERE doc_id % 7 = 0
        |UNION ALL
        |SELECT doc_id + 900000 AS doc_id, FALSE AS matched, FALSE AS src_matched
        |FROM documents WHERE doc_id % 7 = 1
        |ORDER BY doc_id""".stripMargin,

    "q_mmr" ->
      // the provable greedy order with the same IEEE score arithmetic:
      // picks [0, 3, 4, 1, 2]; penalty 0 for unseen directions (picks
      // 1-3), 0.4 = (1-λ)·1 once every direction is covered (picks 4-5)
      """WITH q AS (SELECT unnest(generate_series(0, 2)) AS query_id),
        |sel(doc_id, mmr_rank, pen) AS (VALUES
        |  (0, 1, 0.0), (3, 2, 0.0), (4, 3, 0.0), (1, 4, 0.4), (2, 5, 0.4))
        |SELECT query_id, CAST(doc_id AS BIGINT) AS doc_id,
        |  round(0.6 * ((100 - doc_id * 5) / 100.0) - pen + 1e-9, 6) AS mmr_score,
        |  CAST(mmr_rank AS INT) AS mmr_rank
        |FROM q CROSS JOIN sel ORDER BY query_id, mmr_rank""".stripMargin,

    "q_quality_classifier" ->
      // convexity makes the separation law partitioning-robust: all docs
      // scored, probabilities legal, pseudo-label separation positive
      """SELECT count(*) AS n_rows, CAST(0 AS BIGINT) AS n_bad_prob,
        |  TRUE AS separates
        |FROM documents""".stripMargin,

    "q_hybrid_rrf" ->
      // full replay: both synthetic retriever rankings AND the RRF math
      """WITH q AS (SELECT unnest(generate_series(0, 2)) AS query_id),
        |dq AS (SELECT doc_id, query_id FROM documents CROSS JOIN q),
        |la AS (
        |  SELECT query_id, doc_id, row_number() OVER (
        |    PARTITION BY query_id
        |    ORDER BY (doc_id * 7 + query_id * 11) % 1000, doc_id) AS r
        |  FROM dq QUALIFY r <= 20),
        |lb AS (
        |  SELECT query_id, doc_id, row_number() OVER (
        |    PARTITION BY query_id
        |    ORDER BY (doc_id * 13 + query_id * 5) % 997, doc_id) AS r
        |  FROM dq QUALIFY r <= 20),
        |u AS (SELECT * FROM la UNION ALL SELECT * FROM lb),
        |fused AS (
        |  SELECT query_id, doc_id,
        |    round(sum(1.0 / (60.0 + r)) + 1e-9, 6) AS rrf_score
        |  FROM u GROUP BY query_id, doc_id),
        |ranked AS (
        |  SELECT query_id, doc_id, rrf_score, row_number() OVER (
        |    PARTITION BY query_id ORDER BY rrf_score DESC, doc_id) AS rank
        |  FROM fused QUALIFY rank <= 10)
        |SELECT query_id, doc_id, rrf_score, rank FROM ranked
        |ORDER BY query_id, rank""".stripMargin,
    "q_deflate_ratio" -> golden("q_deflate_ratio"),
    "q_pq_encode" -> golden("q_pq_encode"),
    "q_semantic_dedup" -> golden("q_semantic_dedup"),

    "q_proto_select" ->
      // SSL-prototype audit map vs fixed centroids (embeddings of vec_id
      // 0-3): cosine rounded to 6dp BEFORE argmax/rank (the q_ann_brute /
      // q_semantic_contamination protocol), assignment ties -> min
      // centroid index, rank ties -> min id, kept = rank > floor(0.3*n).
      // Degenerate rows (none in this corpus, but the LEFT JOIN is the
      // contract) stay kept with null cluster/rank.
      """WITH c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS ce
        |           FROM embeddings WHERE vec_id < 4),
        |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |a AS (SELECT v.vec_id, c.cid,
        |        round(list_cosine_similarity(v.e, c.ce), 6) AS cos
        |      FROM v CROSS JOIN c),
        |best AS (SELECT vec_id, cid, cos FROM a
        |         QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) = 1),
        |rk AS (SELECT vec_id, cid, cos,
        |         row_number() OVER (PARTITION BY cid ORDER BY cos DESC, vec_id) AS r,
        |         count(*) OVER (PARTITION BY cid) AS n
        |       FROM best),
        |m AS (SELECT vec_id, CAST(cid AS INT) AS cluster, cos AS cos_to_centroid,
        |        r AS proto_rank, (r > floor(0.3 * n)) AS kept FROM rk)
        |SELECT e.vec_id, m.cluster, m.cos_to_centroid, m.proto_rank,
        |  coalesce(m.kept, TRUE) AS kept
        |FROM embeddings e LEFT JOIN m ON e.vec_id = m.vec_id
        |ORDER BY e.vec_id""".stripMargin,

    "q_d4_select" ->
      // D4 = SemDeDup then prototype pruning. With exact copies and
      // threshold 0.999, semantic survivors are min(vec_id) per identical
      // embedding (no distinct pair reaches the threshold in this corpus);
      // the prototype stage then replays exactly like q_proto_select at
      // pruneFraction 0.25. NOT IN mirrors the engine's left_anti on the
      // dropped set (degenerate rows never enter rk, so they survive).
      """WITH u AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 100000, embedding FROM embeddings),
        |sem AS (SELECT min(vec_id) AS vec_id, embedding FROM u GROUP BY embedding),
        |c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS ce
        |      FROM embeddings WHERE vec_id < 4),
        |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM sem),
        |a AS (SELECT v.vec_id, c.cid,
        |        round(list_cosine_similarity(v.e, c.ce), 6) AS cos
        |      FROM v CROSS JOIN c),
        |best AS (SELECT vec_id, cid, cos FROM a
        |         QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) = 1),
        |rk AS (SELECT vec_id,
        |         row_number() OVER (PARTITION BY cid ORDER BY cos DESC, vec_id) AS r,
        |         count(*) OVER (PARTITION BY cid) AS n
        |       FROM best)
        |SELECT s.vec_id FROM sem s
        |WHERE s.vec_id NOT IN (SELECT vec_id FROM rk WHERE r <= floor(0.25 * n))
        |ORDER BY s.vec_id""".stripMargin,

    "q_multimodal_features" ->
      // the pinned gradient pattern of Multimodal.syntheticPng recomputed
      // in SQL: PNG is lossless, so the engine's ImageIO decode must
      // reproduce these exact integer channel sums; mean_luma is DEFINED
      // as the Rec.601 combination of the channel means
      """WITH dims AS (
        |  SELECT doc_id, CAST(8 + doc_id % 9 AS INT) AS w,
        |         CAST(8 + doc_id % 7 AS INT) AS h
        |  FROM documents),
        |xs AS (SELECT doc_id, w, h, unnest(generate_series(0, w - 1)) AS x FROM dims),
        |px AS (SELECT doc_id, w, h, x, unnest(generate_series(0, h - 1)) AS y FROM xs),
        |ch AS (SELECT doc_id,
        |        (7*x + 13*y + doc_id) % 256 AS r,
        |        (3*x + 5*y + 2*doc_id) % 256 AS g,
        |        (x + y + 3*doc_id) % 256 AS b
        |      FROM px),
        |agg AS (SELECT doc_id,
        |         CAST(sum(r) AS DOUBLE)/count(*) AS mr,
        |         CAST(sum(g) AS DOUBLE)/count(*) AS mg,
        |         CAST(sum(b) AS DOUBLE)/count(*) AS mb
        |       FROM ch GROUP BY doc_id)
        |SELECT d.doc_id AS media_id, d.w AS width, d.h AS height,
        |  CAST(3 AS INT) AS channels,
        |  round(mr + 1e-9, 6) AS mean_r,
        |  round(mg + 1e-9, 6) AS mean_g,
        |  round(mb + 1e-9, 6) AS mean_b,
        |  round(0.299*mr + 0.587*mg + 0.114*mb + 1e-9, 6) AS mean_luma
        |FROM dims d JOIN agg USING (doc_id) ORDER BY media_id""".stripMargin,

    "q_multimodal_audio" ->
      // the pinned PCM16 formula of Multimodal.syntheticWav recomputed in
      // SQL: WAV is lossless, so the engine's AudioSystem decode must
      // reproduce these exact integer sums; zero crossings are sign flips
      // under the pinned `v < 0` predicate over consecutive samples
      """WITH lens AS (
        |  SELECT doc_id, CAST(200 + doc_id % 97 AS INT) AS n FROM documents),
        |samp AS (
        |  SELECT doc_id, n, unnest(generate_series(0, n - 1)) AS i FROM lens),
        |vals AS (
        |  SELECT doc_id, n, i,
        |         ((1103*i + 12289*doc_id + 7) % 65536) - 32768 AS v
        |  FROM samp),
        |lagged AS (
        |  SELECT doc_id, n, v,
        |         lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv
        |  FROM vals)
        |SELECT doc_id AS media_id,
        |  CAST(16000 AS INT) AS sample_rate,
        |  CAST(1 AS INT) AS channels,
        |  CAST(n AS BIGINT) AS num_frames,
        |  CAST(n * 1000 // 16000 AS BIGINT) AS duration_ms,
        |  CAST(sum(abs(v)) AS BIGINT) AS sum_abs,
        |  CAST(sum(v*v) AS BIGINT) AS sum_sq,
        |  CAST(sum(CASE WHEN pv IS NOT NULL AND ((pv < 0) <> (v < 0))
        |                THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings
        |FROM lagged GROUP BY doc_id, n ORDER BY media_id""".stripMargin,

    "q_multimodal_gif_frames" ->
      // solid-color GIF frames round-trip exactly: sampled index set and
      // per-frame channel means recomputed from the pinned color formula
      """WITH lens AS (
        |  SELECT doc_id, CAST(2 + doc_id % 5 AS INT) AS n FROM documents),
        |fr AS (SELECT doc_id, n, unnest(generate_series(0, n - 1)) AS f FROM lens)
        |SELECT doc_id AS media_id, CAST(f AS INT) AS frame_idx,
        |  CAST(8 AS INT) AS width, CAST(6 AS INT) AS height,
        |  CAST((11*f + 7*doc_id) % 256 AS DOUBLE) AS mean_r,
        |  CAST((23*f + 5*doc_id) % 256 AS DOUBLE) AS mean_g,
        |  CAST((37*f + 3*doc_id) % 256 AS DOUBLE) AS mean_b
        |FROM fr WHERE f % 2 = 0 ORDER BY media_id, frame_idx""".stripMargin,

    "q_html_to_text" ->
      // each CASE arm is the hand-derived expected output of the
      // corresponding strip/decode rule on that family's markup
      """WITH d AS (SELECT doc_id, CAST(doc_id AS VARCHAR) AS ds,
        |                  doc_id % 5 AS f FROM documents)
        |SELECT doc_id, CASE f
        |  WHEN 0 THEN 'Doc ' || ds
        |  WHEN 1 THEN 'Part ' || ds || chr(10) || chr(10) || 'And more'
        |  WHEN 2 THEN 'A & B bold ' || ds || ' <tag>'
        |  WHEN 3 THEN 'num AB id ' || ds || ' end'
        |  ELSE 'plain & text ' || ds || ' a<b unclosed' END AS text_out
        |FROM d ORDER BY doc_id""".stripMargin,

    "q_url_canonicalize" ->
      // the oracle recomputes canonical/host/domain from the per-family
      // formula — each CASE arm is the documented expected output of the
      // corresponding canonicalization / public-suffix rule
      """WITH d AS (SELECT doc_id, CAST(doc_id AS VARCHAR) AS ds,
        |                  doc_id % 9 AS f FROM documents)
        |SELECT doc_id,
        |  CASE f
        |    WHEN 0 THEN 'http://www.example' || ds || '.com/A/b' || ds || '?a=2&z=1'
        |    WHEN 1 THEN 'https://news.site' || ds || '.co.uk/'
        |    WHEN 2 THEN 'https://blog.host' || ds || '.org/'
        |    WHEN 3 THEN 'http://host' || ds || '.net:8080/p?a=0&a=1&b=2'
        |    WHEN 4 THEN 'doc ' || ds || ' not a url'
        |    WHEN 5 THEN 'https://a.b.site' || ds || '.com/x'
        |    WHEN 6 THEN 'https://school' || ds || '.k12.ca.us/home'
        |    WHEN 7 THEN 'http://sub.town' || ds || '.kawasaki.jp/index'
        |    ELSE 'https://www.city.kawasaki.jp/ward' || ds END AS url_canonical,
        |  CASE f
        |    WHEN 0 THEN 'www.example' || ds || '.com'
        |    WHEN 1 THEN 'news.site' || ds || '.co.uk'
        |    WHEN 2 THEN 'blog.host' || ds || '.org'
        |    WHEN 3 THEN 'host' || ds || '.net'
        |    WHEN 4 THEN NULL
        |    WHEN 5 THEN 'a.b.site' || ds || '.com'
        |    WHEN 6 THEN 'school' || ds || '.k12.ca.us'
        |    WHEN 7 THEN 'sub.town' || ds || '.kawasaki.jp'
        |    ELSE 'www.city.kawasaki.jp' END AS url_host,
        |  CASE f
        |    WHEN 0 THEN 'example' || ds || '.com'
        |    WHEN 1 THEN 'site' || ds || '.co.uk'
        |    WHEN 2 THEN 'host' || ds || '.org'
        |    WHEN 3 THEN 'host' || ds || '.net'
        |    WHEN 4 THEN NULL
        |    WHEN 5 THEN 'site' || ds || '.com'
        |    WHEN 6 THEN 'school' || ds || '.k12.ca.us'
        |    WHEN 7 THEN 'sub.town' || ds || '.kawasaki.jp'
        |    ELSE 'city.kawasaki.jp' END AS url_domain
        |FROM d ORDER BY doc_id""".stripMargin,

    "q_url_dedup" ->
      """WITH d AS (SELECT doc_id, CAST(doc_id % 97 AS VARCHAR) AS ds,
        |                  (doc_id % 97) % 6 AS f FROM documents),
        |canon AS (SELECT doc_id, CASE f
        |    WHEN 0 THEN 'http://www.example' || ds || '.com/A/b' || ds || '?a=2&z=1'
        |    WHEN 1 THEN 'https://news.site' || ds || '.co.uk/'
        |    WHEN 2 THEN 'https://blog.host' || ds || '.org/'
        |    WHEN 3 THEN 'http://host' || ds || '.net:8080/p?a=0&a=1&b=2'
        |    WHEN 4 THEN 'doc ' || ds || ' not a url'
        |    ELSE 'https://a.b.site' || ds || '.com/x' END AS url_canonical
        |  FROM d)
        |SELECT doc_id, url_canonical FROM canon
        |QUALIFY row_number() OVER (PARTITION BY url_canonical ORDER BY doc_id) = 1
        |ORDER BY doc_id""".stripMargin,

    "q_pii_redact" -> {
      // same regexes (RE2-compatible: no lookaround), same replace order
      val email = graft.text.TextLib.EmailRe
      val ip = graft.text.TextLib.Ipv4Re
      val phone = graft.text.TextLib.PhoneRe
      s"""WITH planted AS (
         |  SELECT doc_id, CASE doc_id % 4
         |    WHEN 0 THEN text || ' contact john.doe@example.com now'
         |    WHEN 1 THEN text || ' call +1-555-123-4567 today'
         |    WHEN 2 THEN text || ' server at 192.168.0.1 port'
         |    ELSE text END AS text
         |  FROM documents),
         |red AS (
         |  SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(text,
         |    '$email', '<EMAIL>', 'g'),
         |    '$ip', '<IP>', 'g'),
         |    '$phone', '<PHONE>', 'g') AS r
         |  FROM planted)
         |SELECT doc_id,
         |  contains(r, '<EMAIL>') AS has_email,
         |  contains(r, '<PHONE>') AS has_phone,
         |  contains(r, '<IP>') AS has_ip,
         |  right(r, 30) AS tail30
         |FROM red ORDER BY doc_id""".stripMargin
    },

    "q_contamination" ->
      // mirrors Contamination.contaminationStats: distinct word 5-gram
      // shingles (whole text when < 5 words) of both sides, inner join on
      // the shingle, per-train-doc distinct shingle / eval-doc counts
      s"""$contaminationCte
         |SELECT train_id, count(DISTINCT s) AS n_hit_ngrams,
         |  count(DISTINCT eval_id) AS n_eval_docs
         |FROM hits GROUP BY train_id ORDER BY train_id""".stripMargin,

    "q_decontaminate" ->
      // tr carries lang/n_chars itself (the engine's mutated rows keep the
      // source row's columns) — no join back by id arithmetic, which would
      // silently break once real doc_ids reach the +100000 offset range
      s"""$contaminationCte,
         |flagged AS (
         |  SELECT train_id FROM hits GROUP BY train_id
         |  HAVING count(DISTINCT s) >= 3)
         |SELECT doc_id, lang, n_chars
         |FROM tr
         |WHERE doc_id NOT IN (SELECT train_id FROM flagged)
         |ORDER BY doc_id""".stripMargin,

    "q_para_dedup" ->
      // mirrors Dedup.paragraphDedup: split on the literal sep, keep-first
      // per exact paragraph over (doc_id, idx), minChars=1 exempts empties;
      // ordered string_agg reassembles. The engine windows on sha2(para) —
      // same equivalence classes as PARTITION BY para here. Zipped unnests
      // (DuckDB aligns same-length unnests in one SELECT) carry (idx, para).
      """WITH u AS (
        |  SELECT doc_id, lang,
        |    concat_ws(E'\n\n', text,
        |      'Subscribe to our newsletter. Follow us on social media.') AS text
        |  FROM documents),
        |s AS (SELECT doc_id, lang, string_split(text, E'\n\n') AS ls FROM u),
        |x AS (SELECT doc_id, unnest(range(1, len(ls) + 1)) AS idx, unnest(ls) AS para FROM s),
        |k AS (SELECT doc_id, idx, para,
        |        row_number() OVER (PARTITION BY para ORDER BY doc_id, idx) AS rn FROM x),
        |f AS (SELECT * FROM k WHERE length(para) < 1 OR rn = 1),
        |r AS (SELECT doc_id, CAST(count(*) AS INT) AS n_paras_kept,
        |        coalesce(string_agg(para, E'\n\n' ORDER BY idx), '') AS t2
        |      FROM f GROUP BY doc_id)
        |SELECT s.doc_id, s.lang, CAST(len(s.ls) AS INT) AS n_paras,
        |  coalesce(r.n_paras_kept, 0) AS n_paras_kept,
        |  CAST(length(coalesce(r.t2, '')) AS INT) AS n_chars_kept,
        |  right(coalesce(r.t2, ''), 20) AS tail
        |FROM s LEFT JOIN r USING (doc_id) ORDER BY doc_id""".stripMargin,

    "q_dup_spans" ->
      // mirrors Dedup.duplicateSpans (k=5, minCount=2): positional word
      // 5-grams, corpus-wide gram counts, gaps-and-islands span merge
      // (new span when pos > prev + k). The engine keys grams by xxhash64;
      // grouping by the gram string here is the same partition sans
      // 64-bit collisions (none at these corpus sizes).
      """WITH u AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN doc_id % 3 = 0
        |      THEN text || ' the quick brown fox jumps over the lazy dog at midnight'
        |      ELSE text END AS text
        |  FROM documents),
        |t AS (SELECT doc_id, lang,
        |        list_filter(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
        |          x -> x <> '') AS ws
        |      FROM u),
        |g AS (SELECT doc_id, unnest(range(1, len(ws) - 3)) AS pos,
        |        unnest(list_transform(range(1, len(ws) - 3),
        |          i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4])) AS gram
        |      FROM t WHERE len(ws) >= 5),
        |c AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
        |f AS (SELECT g.doc_id, g.pos FROM g JOIN c USING (gram)),
        |i AS (SELECT doc_id, pos,
        |        CASE WHEN lag(pos) OVER w IS NULL OR pos > lag(pos) OVER w + 5
        |          THEN 1 ELSE 0 END AS nw
        |      FROM f WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        |si AS (SELECT doc_id, pos,
        |         sum(nw) OVER (PARTITION BY doc_id ORDER BY pos) AS isl FROM i),
        |sp AS (SELECT doc_id, isl, min(pos) AS s0, max(pos) + 4 AS e0, count(*) AS ng
        |       FROM si GROUP BY doc_id, isl),
        |pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
        |         CAST(sum(e0 - s0 + 1) AS BIGINT) AS dup_tokens,
        |         CAST(max(e0 - s0 + 1) AS BIGINT) AS max_span_tokens,
        |         CAST(sum(ng) AS BIGINT) AS n_dup_grams
        |       FROM sp GROUP BY doc_id)
        |SELECT t.doc_id, t.lang,
        |  CAST(coalesce(len(t.ws), 0) AS INT) AS n_tokens,
        |  CAST(greatest(coalesce(len(t.ws), 0) - 4, 0) AS INT) AS n_grams,
        |  coalesce(pd.n_dup_grams, 0) AS n_dup_grams,
        |  coalesce(pd.n_spans, 0) AS n_spans,
        |  coalesce(pd.dup_tokens, 0) AS dup_tokens,
        |  coalesce(pd.max_span_tokens, 0) AS max_span_tokens,
        |  round(CASE WHEN coalesce(len(t.ws), 0) > 0
        |    THEN coalesce(pd.dup_tokens, 0) * 1.0 / len(t.ws) ELSE 0.0 END + 1e-9, 6) AS dup_ratio
        |FROM t LEFT JOIN pd USING (doc_id) ORDER BY doc_id""".stripMargin,

    "q_cut_contaminated" ->
      // mirrors Contamination.cutContaminatedSpans (n=5): POSITIONAL
      // grams (no short-doc fallback — WordGramHashes emits nothing under
      // n tokens, unlike the shingle index q_contamination replays), the
      // eval gram SET, coverage positions, token rewrite
      """WITH ev AS (SELECT doc_id, text, lang FROM documents WHERE doc_id % 50 = 0),
        |tr AS (
        |  SELECT doc_id, text, lang FROM documents WHERE doc_id % 50 <> 0
        |  UNION ALL
        |  SELECT doc_id + 100000, regexp_replace(text, '\s+\S+\s*$', ''), lang FROM ev),
        |t AS (SELECT doc_id, lang, text,
        |        list_filter(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
        |          x -> x <> '') AS ws
        |      FROM tr),
        |eg AS (SELECT DISTINCT gram FROM (
        |        SELECT unnest(list_transform(range(1, len(ws) - 3),
        |          i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4])) AS gram
        |        FROM (SELECT list_filter(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
        |                x -> x <> '') AS ws
        |              FROM ev WHERE text IS NOT NULL)
        |        WHERE len(ws) >= 5)),
        |tg AS (SELECT doc_id, unnest(range(1, len(ws) - 3)) AS pos,
        |        unnest(list_transform(range(1, len(ws) - 3),
        |          i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4])) AS gram
        |      FROM t WHERE len(ws) >= 5),
        |rmpos AS (SELECT DISTINCT doc_id, tp FROM (
        |        SELECT tg.doc_id, unnest(range(tg.pos, tg.pos + 5)) AS tp
        |        FROM tg JOIN eg USING (gram))),
        |tok AS (SELECT doc_id, unnest(range(1, len(ws) + 1)) AS tp, unnest(ws) AS tok
        |        FROM t WHERE text IS NOT NULL),
        |kp AS (SELECT tok.doc_id, tok.tp, tok.tok,
        |         (rmpos.tp IS NOT NULL) AS rm
        |       FROM tok LEFT JOIN rmpos USING (doc_id, tp)),
        |rb AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |         CAST(sum(CASE WHEN rm THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
        |         coalesce(string_agg(CASE WHEN NOT rm THEN tok END, ' ' ORDER BY tp), '') AS text2
        |       FROM kp GROUP BY 1)
        |SELECT t.doc_id, t.lang,
        |  coalesce(rb.n_tokens, 0) AS n_tokens,
        |  coalesce(rb.n_removed, 0) AS n_removed_tokens,
        |  coalesce(rb.n_tokens - rb.n_removed, 0) AS n_kept_tokens,
        |  CAST(length(CASE WHEN t.text IS NULL THEN NULL
        |    ELSE coalesce(rb.text2, t.text) END) AS INT) AS n_chars_kept,
        |  md5(CASE WHEN t.text IS NULL THEN NULL
        |    ELSE coalesce(rb.text2, t.text) END) AS text_md5
        |FROM t LEFT JOIN rb USING (doc_id)
        |ORDER BY t.doc_id""".stripMargin,

    "q_cut_dup_spans" ->
      // mirrors Dedup.cutDuplicateSpans (k=5, minCount=2): string-keyed
      // grams (engine uses xxhash64 — same partition sans 2^-64
      // collisions), canonical = min (doc, pos) encoded as doc*1e6+pos
      // (positions < 1e6 at every fixture SF), per-position coverage via
      // window expansion, keep-first rewrite over the token stream.
      """WITH u AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN doc_id % 3 = 0
        |      THEN text || ' the quick brown fox jumps over the lazy dog at midnight'
        |      ELSE text END AS text
        |  FROM documents),
        |t AS (SELECT doc_id, lang, text,
        |        list_filter(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
        |          x -> x <> '') AS ws
        |      FROM u),
        |g AS (SELECT doc_id, unnest(range(1, len(ws) - 3)) AS pos,
        |        unnest(list_transform(range(1, len(ws) - 3),
        |          i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4])) AS gram
        |      FROM t WHERE len(ws) >= 5),
        |fk AS (SELECT gram, min(doc_id * 1000000 + pos) AS canon
        |       FROM g GROUP BY gram HAVING count(*) >= 2),
        |cov AS (SELECT g.doc_id, unnest(range(g.pos, g.pos + 5)) AS tp,
        |          unnest(list_transform(range(g.pos, g.pos + 5),
        |            x -> g.doc_id * 1000000 + g.pos = fk.canon)) AS is_canon
        |        FROM g JOIN fk USING (gram)),
        |cv AS (SELECT doc_id, tp, bool_or(is_canon) AS any_canon
        |       FROM cov GROUP BY 1, 2),
        |tok AS (SELECT doc_id, unnest(range(1, len(ws) + 1)) AS tp, unnest(ws) AS tok
        |        FROM t WHERE text IS NOT NULL),
        |kp AS (SELECT tok.doc_id, tok.tp, tok.tok,
        |         coalesce(NOT cv.any_canon, FALSE) AS rm
        |       FROM tok LEFT JOIN cv USING (doc_id, tp)),
        |rb AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |         CAST(sum(CASE WHEN rm THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
        |         coalesce(string_agg(CASE WHEN NOT rm THEN tok END, ' ' ORDER BY tp), '') AS text2
        |       FROM kp GROUP BY 1)
        |SELECT t.doc_id, t.lang,
        |  coalesce(rb.n_tokens, 0) AS n_tokens,
        |  coalesce(rb.n_removed, 0) AS n_removed_tokens,
        |  coalesce(rb.n_tokens - rb.n_removed, 0) AS n_kept_tokens,
        |  CAST(length(CASE WHEN t.text IS NULL THEN NULL
        |    ELSE coalesce(rb.text2, t.text) END) AS INT) AS n_chars_kept,
        |  md5(CASE WHEN t.text IS NULL THEN NULL
        |    ELSE coalesce(rb.text2, t.text) END) AS text_md5
        |FROM t LEFT JOIN rb USING (doc_id)
        |ORDER BY t.doc_id""".stripMargin,

    "q_dsir_weights" ->
      // mirrors Dsir.logWeights (string features, unigrams+bigrams,
      // alpha=1): multiset gram counts per corpus, full-outer vocabulary,
      // Laplace smoothing over (N + V), per-doc occurrence-weighted sum of
      // log ratios. Tokenization is the engine's normalized() split (the
      // q_dup_spans-proven replay). Docs with zero features report the
      // neutral 0.0.
      """WITH d AS (
        |  SELECT doc_id,
        |    list_filter(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
        |      x -> x <> '') AS ws
        |  FROM documents),
        |g1 AS (SELECT doc_id, unnest(ws) AS f FROM d),
        |g2 AS (SELECT doc_id,
        |         unnest(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])) AS f
        |       FROM d WHERE len(ws) >= 2),
        |g AS (SELECT * FROM g1 UNION ALL SELECT * FROM g2),
        |tg AS (SELECT f FROM g WHERE doc_id % 10 = 0),
        |rg AS (SELECT doc_id, f FROM g WHERE doc_id % 10 <> 0),
        |tc AS (SELECT f, count(*) AS ct FROM tg GROUP BY 1),
        |rc AS (SELECT f, count(*) AS cr FROM rg GROUP BY 1),
        |v AS (SELECT coalesce(tc.f, rc.f) AS f, coalesce(ct, 0) AS ct, coalesce(cr, 0) AS cr
        |      FROM tc FULL JOIN rc ON tc.f = rc.f),
        |s AS (SELECT CAST(sum(ct) AS DOUBLE) AS nt, CAST(sum(cr) AS DOUBLE) AS nr,
        |        CAST(count(*) AS DOUBLE) AS vv FROM v),
        |w AS (SELECT f, ln((ct + 1.0) / (nt + vv)) - ln((cr + 1.0) / (nr + vv)) AS lw
        |      FROM v, s),
        |pd AS (SELECT doc_id, sum(lw) AS lw FROM rg JOIN w USING (f) GROUP BY 1)
        |SELECT d.doc_id, round(coalesce(pd.lw, 0.0) + 1e-9, 6) AS log_weight
        |FROM d LEFT JOIN pd USING (doc_id)
        |WHERE d.doc_id % 10 <> 0
        |ORDER BY d.doc_id""".stripMargin,

    "q_dsir_select" ->
      // q_dsir_weights' replay kept UNROUNDED, then the select seam:
      // exp(lw − max lw) over the full raw frame (zero-feature docs carry
      // the neutral 0.0 and compete), the q_weighted_sample A-ES key from
      // md5('42:'||doc_id), top-100 by es desc / doc_id asc. exp underflow
      // to 0.0 (lw more than ~745 nats under the max) drops the row in
      // both engines — IEEE-identical.
      """WITH d AS (
        |  SELECT doc_id,
        |    list_filter(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
        |      x -> x <> '') AS ws
        |  FROM documents),
        |g1 AS (SELECT doc_id, unnest(ws) AS f FROM d),
        |g2 AS (SELECT doc_id,
        |         unnest(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])) AS f
        |       FROM d WHERE len(ws) >= 2),
        |g AS (SELECT * FROM g1 UNION ALL SELECT * FROM g2),
        |tg AS (SELECT f FROM g WHERE doc_id % 10 = 0),
        |rg AS (SELECT doc_id, f FROM g WHERE doc_id % 10 <> 0),
        |tc AS (SELECT f, count(*) AS ct FROM tg GROUP BY 1),
        |rc AS (SELECT f, count(*) AS cr FROM rg GROUP BY 1),
        |v AS (SELECT coalesce(tc.f, rc.f) AS f, coalesce(ct, 0) AS ct, coalesce(cr, 0) AS cr
        |      FROM tc FULL JOIN rc ON tc.f = rc.f),
        |s AS (SELECT CAST(sum(ct) AS DOUBLE) AS nt, CAST(sum(cr) AS DOUBLE) AS nr,
        |        CAST(count(*) AS DOUBLE) AS vv FROM v),
        |w AS (SELECT f, ln((ct + 1.0) / (nt + vv)) - ln((cr + 1.0) / (nr + vv)) AS lw
        |      FROM v, s),
        |pd AS (SELECT doc_id, sum(lw) AS lw FROM rg JOIN w USING (f) GROUP BY 1),
        |lwx AS (SELECT d.doc_id, coalesce(pd.lw, 0.0) AS lw
        |        FROM d LEFT JOIN pd USING (doc_id) WHERE d.doc_id % 10 <> 0),
        |m AS (SELECT max(lw) AS mx FROM lwx),
        |ww AS (SELECT doc_id, lw, exp(lw - m.mx) AS dw FROM lwx, m),
        |es AS (SELECT doc_id, lw,
        |         ln((CAST(CAST('0x' || substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS DOUBLE) + 1.0)
        |            / 1152921504606846976.0) / dw AS es
        |       FROM ww WHERE doc_id IS NOT NULL AND dw > 0),
        |k AS (SELECT doc_id, lw FROM es ORDER BY es DESC, doc_id ASC LIMIT 100)
        |SELECT doc_id, round(lw + 1e-9, 6) AS log_weight FROM k ORDER BY doc_id""".stripMargin,

    "q_unicode_nfc" ->
      // chr(769) = U+0301 COMBINING ACUTE, chr(8491) = U+212B ANGSTROM SIGN;
      // DuckDB nfc_normalize implements the same Unicode NFC as
      // java.text.Normalizer; length() counts code points on both engines
      """WITH p AS (
        |  SELECT doc_id, text || ' cafe' || chr(769) || ' ' || chr(8491) AS planted
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(length(planted) AS INT) AS len_raw,
        |  CAST(length(nfc_normalize(planted)) AS INT) AS len_nfc,
        |  right(nfc_normalize(planted), 6) AS tail_nfc
        |FROM p ORDER BY doc_id""".stripMargin,

    "q_pack_docs" ->
      // mirrors TextLib.packDocuments: run-count tokens, per-lang running
      // offset (rows before current), bin = floor(offset / budget)
      """WITH tk AS (
        |  SELECT doc_id, lang,
        |    CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS INT) AS n_tokens
        |  FROM documents)
        |SELECT doc_id, lang, n_tokens,
        |  CAST(coalesce(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS pack_offset,
        |  CAST(floor(coalesce(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 1024) AS INT) AS pack_id
        |FROM tk ORDER BY doc_id""".stripMargin,

    "q_token_divergence" ->
      """WITH ta AS (
        |  SELECT unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS token
        |  FROM documents WHERE lang = 'en'),
        |tb AS (
        |  SELECT unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS token
        |  FROM documents WHERE lang <> 'en'),
        |ca AS (SELECT token, count(*) AS c FROM ta WHERE token <> '' GROUP BY token),
        |cb AS (SELECT token, count(*) AS c FROM tb WHERE token <> '' GROUP BY token),
        |j AS (
        |  SELECT coalesce(ca.c, 0) AS ca, coalesce(cb.c, 0) AS cb
        |  FROM ca FULL OUTER JOIN cb USING (token)),
        |tot AS (
        |  SELECT CAST(sum(ca) AS DOUBLE) AS na, CAST(sum(cb) AS DOUBLE) AS nb,
        |         CAST(count(*) AS DOUBLE) AS v
        |  FROM j),
        |p AS (
        |  SELECT (CAST(ca AS DOUBLE) + 0.5) / (na + 0.5 * v) AS pa,
        |         (CAST(cb AS DOUBLE) + 0.5) / (nb + 0.5 * v) AS pb
        |  FROM j CROSS JOIN tot),
        |pm AS (SELECT pa, pb, (pa + pb) / 2 AS pm FROM p)
        |SELECT
        |  round(sum(pa * ln(pa / pb)) + 1e-9, 4) AS kl_ab,
        |  round(sum(pb * ln(pb / pa)) + 1e-9, 4) AS kl_ba,
        |  round((sum(pa * ln(pa / pm)) + sum(pb * ln(pb / pm))) / 2 + 1e-9, 4) AS js
        |FROM pm""".stripMargin,

    "q_pack_concat" ->
      // same pack assignment as q_pack_docs, then ordered string_agg with
      // the (pack_offset, text) tie rule the engine's struct sort applies
      """WITH tk AS (
        |  SELECT doc_id, lang, text,
        |    CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS INT) AS n_tokens
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, lang, text, n_tokens,
        |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS pack_offset,
        |    CAST(floor(coalesce(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 1024) AS INT) AS pack_id
        |  FROM tk)
        |SELECT lang, pack_id,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS pack_tokens,
        |  CAST(length(coalesce(string_agg(text, E'\n\n' ORDER BY pack_offset, text), '')) AS INT) AS pack_chars,
        |  substr(coalesce(string_agg(text, E'\n\n' ORDER BY pack_offset, text), ''), 1, 40) AS pack_head
        |FROM p GROUP BY lang, pack_id
        |ORDER BY lang, pack_id""".stripMargin,

    "q_text_repetition" ->
      """WITH u AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 300000, text || ' ' || text FROM documents),
        |tok AS (
        |  SELECT doc_id,
        |    string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS ws
        |  FROM u),
        |m AS (
        |  SELECT doc_id, greatest(len(ws) - 2, 0) AS total,
        |    CASE WHEN len(ws) >= 3 THEN len(list_distinct(
        |      list_transform(range(1, len(ws) - 1),
        |        i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2])))
        |    ELSE 0 END AS nd
        |  FROM tok)
        |SELECT doc_id,
        |  CASE WHEN total > 0 THEN round(1.0 - nd * 1.0 / total, 6) ELSE 0.0 END AS rep_ratio
        |FROM m ORDER BY doc_id""".stripMargin,

    "q_bloom_exclude" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id NOT IN (SELECT doc_id FROM documents WHERE doc_id % 7 = 0)
        |ORDER BY doc_id""".stripMargin,

    "q_fuzzy_pairs" ->
      // brute force: every pair, exact levenshtein — tractable because the
      // oracle runs at gate scale only; the engine side never does this
      """WITH d AS (SELECT doc_id, lower(substring(text, 1, 24)) AS s
        |           FROM documents WHERE text IS NOT NULL AND doc_id % 2 = 0)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b, levenshtein(a.s, b.s) AS dist
        |FROM d a JOIN d b
        |  ON a.doc_id < b.doc_id AND abs(length(a.s) - length(b.s)) <= 2
        |WHERE levenshtein(a.s, b.s) <= 2
        |ORDER BY id_a, id_b""".stripMargin,

    "q_dedup_ngram_jaccard" ->
      // mirrors Dedup.ngramJaccardPairs exactly: distinct word 3-gram
      // shingles of normalized text (whole text when < 3 words), document
      // frequency prune 1 < df <= 500, inter/union set Jaccard
      """WITH u AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, regexp_replace(text, '\s+\S+\s*$', '') FROM documents),
        |tok AS (
        |  SELECT doc_id AS id,
        |    string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS ws
        |  FROM u),
        |sh AS (
        |  SELECT id, unnest(list_distinct(
        |    CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
        |         ELSE list_transform(range(1, len(ws) - 1),
        |                i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2])
        |    END)) AS s
        |  FROM tok),
        |freq AS (SELECT s, count(*) AS df FROM sh GROUP BY s),
        |pruned AS (SELECT sh.id, sh.s FROM sh JOIN freq USING (s) WHERE freq.df > 1 AND freq.df <= 500),
        |sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
        |inter AS (
        |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS i
        |  FROM pruned a JOIN pruned b USING (s)
        |  WHERE a.id < b.id GROUP BY 1, 2)
        |SELECT id_a, id_b, jaccard FROM (
        |  SELECT id_a, id_b,
        |    round(i * 1.0 / (sa.sz + sb.sz - i), 4) AS jaccard
        |  FROM inter
        |  JOIN sizes sa ON sa.id = id_a
        |  JOIN sizes sb ON sb.id = id_b)
        |WHERE jaccard >= 0.4 ORDER BY id_a, id_b""".stripMargin,

    "q_consolidate" ->
      // |distinct| is tiny, so the oracle can afford the all-pairs
      // levenshtein the engine's q-gram path avoids; canonical election =
      // strictly-better neighbor with (count DESC, value ASC) priority
      """WITH m AS (
        |  SELECT c_custkey,
        |    CASE WHEN c_custkey % 7 = 0 THEN substr(c_mktsegment, 1, length(c_mktsegment) - 1)
        |         WHEN c_custkey % 11 = 0 THEN c_mktsegment || 'X'
        |         ELSE c_mktsegment END AS v
        |  FROM customer),
        |vals AS (SELECT v, count(*) AS n FROM m GROUP BY v),
        |nb AS (SELECT a.v AS v, a.n AS n, b.v AS u, b.n AS un
        |       FROM vals a JOIN vals b ON a.v <> b.v AND levenshtein(a.v, b.v) <= 2),
        |canon AS (
        |  SELECT v, u AS canon FROM (
        |    SELECT v, u, row_number() OVER (PARTITION BY v ORDER BY un DESC, u ASC) AS rn
        |    FROM nb WHERE un > n OR (un = n AND u < v))
        |  WHERE rn = 1)
        |SELECT coalesce(c.canon, m.v) AS seg_clean, count(*) AS n
        |FROM m LEFT JOIN canon c ON c.v = m.v
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_readability" ->
      // replay of the pinned heuristics: [.!?]+ sentence runs (min 1),
      // [aeiouy]+ vowel groups floored at 1 per word, the Flesch linear
      // form in the engine's evaluation order
      """WITH n AS (
        |  SELECT doc_id,
        |    trim(regexp_replace(lower(concat_ws(' ', text, 'one more sentence. and another! done?')),
        |         '\s+', ' ', 'g')) AS nm
        |  FROM documents),
        |t AS (SELECT doc_id, nm, list_filter(string_split(nm, ' '), x -> x <> '') AS ws FROM n),
        |m AS (SELECT doc_id,
        |        CAST(len(ws) AS BIGINT) AS rd_words,
        |        CASE WHEN len(ws) > 0
        |             THEN greatest(CAST(len(string_split_regex(nm, '[.!?]+')) - 1 AS BIGINT), 1)
        |        END AS rd_sentences,
        |        CASE WHEN len(ws) > 0
        |             THEN CAST(list_sum(list_transform(ws,
        |                    w -> greatest(len(string_split_regex(w, '[aeiouy]+')) - 1, 1)))
        |                  AS BIGINT)
        |        END AS rd_syllables
        |      FROM t)
        |SELECT doc_id, rd_words, rd_sentences, rd_syllables,
        |  CASE WHEN rd_words > 0
        |       THEN round(206.835
        |                  - 1.015 * (CAST(rd_words AS DOUBLE) / CAST(rd_sentences AS DOUBLE))
        |                  - 84.6 * (CAST(rd_syllables AS DOUBLE) / CAST(rd_words AS DOUBLE))
        |                  + 1e-9, 4)
        |  END AS flesch
        |FROM m ORDER BY doc_id""".stripMargin,

    "q_kwic" ->
      // replay: 1-based positions over the normalized tokens; DuckDB list
      // slices clamp out-of-range bounds exactly like the engine's
      // greatest/least guards
      """WITH tok AS (
        |  SELECT doc_id,
        |    string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS ws
        |  FROM documents),
        |p AS (SELECT doc_id, ws, generate_subscripts(ws, 1) AS pos FROM tok),
        |hits AS (SELECT doc_id, ws, pos FROM p WHERE ws[pos] = 'spark' AND ws[pos] <> '')
        |SELECT doc_id, CAST(pos AS INT) AS position,
        |  coalesce(array_to_string(ws[greatest(1, pos - 3):pos - 1], ' '), '') AS left_context,
        |  ws[pos] AS keyword,
        |  coalesce(array_to_string(ws[pos + 1:least(len(ws), pos + 3)], ' '), '') AS right_context
        |FROM hits ORDER BY doc_id, position""".stripMargin,

    "q_dedup_containment" ->
      // mirrors Dedup.ngramContainmentPairs: same shingle/df-prune relation
      // as the Jaccard oracle, divided by each side's own size
      """WITH u AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 200000,
        |    array_to_string(string_split(
        |      trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')[1:10], ' ')
        |  FROM documents WHERE doc_id % 5 = 0),
        |tok AS (
        |  SELECT doc_id AS id,
        |    string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS ws
        |  FROM u),
        |sh AS (
        |  SELECT id, unnest(list_distinct(
        |    CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
        |         ELSE list_transform(range(1, len(ws) - 1),
        |                i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2])
        |    END)) AS s
        |  FROM tok),
        |freq AS (SELECT s, count(*) AS df FROM sh GROUP BY s),
        |pruned AS (SELECT sh.id, sh.s FROM sh JOIN freq USING (s) WHERE freq.df > 1 AND freq.df <= 500),
        |sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
        |inter AS (
        |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS i
        |  FROM pruned a JOIN pruned b USING (s)
        |  WHERE a.id < b.id GROUP BY 1, 2)
        |SELECT id_a, id_b, c_a_in_b, c_b_in_a FROM (
        |  SELECT id_a, id_b,
        |    round(i * 1.0 / sa.sz, 4) AS c_a_in_b,
        |    round(i * 1.0 / sb.sz, 4) AS c_b_in_a
        |  FROM inter
        |  JOIN sizes sa ON sa.id = id_a
        |  JOIN sizes sb ON sb.id = id_b)
        |WHERE greatest(c_a_in_b, c_b_in_a) >= 0.8 ORDER BY id_a, id_b""".stripMargin,

    "q_multimodal_frames" ->
      """SELECT doc_id AS media_id, frame_idx,
        |  CAST(greatest(0, least(16, octet_length(encode(text)) - frame_idx * 16)) AS INT) AS frame_len
        |FROM documents
        |CROSS JOIN (SELECT unnest(range(0, 5)) AS frame_idx)
        |ORDER BY media_id, frame_idx""".stripMargin,

    "q_dedup_exact" ->
      """WITH u AS (
        |  SELECT doc_id, text, lang, source, n_chars FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, regexp_replace(text, '\s+\S+\s*$', ''), lang, source, n_chars
        |  FROM documents),
        |n AS (SELECT *, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS nt FROM u)
        |SELECT doc_id, lang, source, n_chars FROM n
        |QUALIFY row_number() OVER (PARTITION BY nt ORDER BY doc_id) = 1
        |ORDER BY doc_id""".stripMargin,

    "q_dedup_keepbest" ->
      // same duplicate groups as q_dedup_exact, but the survivor is the
      // max-quality member (ties -> min doc_id) instead of the first
      """WITH u AS (
        |  SELECT doc_id, text, lang, source FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, regexp_replace(text, '\s+\S+\s*$', ''), lang, source
        |  FROM documents),
        |n AS (SELECT *,
        |  CAST((doc_id * 37) % 101 AS DOUBLE) AS q,
        |  trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS nt FROM u)
        |SELECT doc_id, lang, source FROM n
        |QUALIFY row_number() OVER (PARTITION BY nt ORDER BY q DESC, doc_id) = 1
        |ORDER BY doc_id""".stripMargin,

    "q_semantic_contamination" ->
      // max-cosine per training vector vs the broadcast eval set; rounded
      // to 6dp BEFORE the argmax (ties -> min eval id) like the engine
      """WITH ev AS (
        |  SELECT vec_id AS eid, embedding AS e FROM embeddings WHERE vec_id % 50 = 0),
        |tr AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 50 <> 0),
        |sc AS (
        |  SELECT t.vec_id, ev.eid,
        |    round(list_cosine_similarity(CAST(t.embedding AS DOUBLE[]),
        |                                 CAST(ev.e AS DOUBLE[])), 6) AS c
        |  FROM tr t CROSS JOIN ev),
        |best AS (
        |  SELECT vec_id, c AS max_cos, eid AS nearest_eval_id FROM sc
        |  WHERE c IS NOT NULL
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY c DESC, eid) = 1)
        |SELECT t.vec_id, b.max_cos, b.nearest_eval_id,
        |  coalesce(b.max_cos >= 0.3, false) AS contaminated
        |FROM tr t LEFT JOIN best b ON t.vec_id = b.vec_id
        |ORDER BY t.vec_id""".stripMargin,

    "q_dedup_exact_map" ->
      """WITH u AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 200000, text FROM documents WHERE doc_id % 5 = 0),
        |n AS (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS nt FROM u),
        |g AS (SELECT nt, min(doc_id) AS survivor, count(*) AS group_size
        |      FROM n GROUP BY nt HAVING count(*) > 1)
        |SELECT g.survivor, n.doc_id AS member, g.group_size
        |FROM n JOIN g ON n.nt = g.nt
        |WHERE n.doc_id <> g.survivor
        |ORDER BY survivor, member""".stripMargin,

    "q_text_quality" ->
      """SELECT doc_id,
        |  CAST(length(text) AS INT) AS n_chars_calc,
        |  CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS INT) AS n_words,
        |  round((length(text) - length(regexp_replace(text, '[\.,;:!\?''"]', '', 'g')))
        |        * 1.0 / length(text) + 1e-9, 6) AS punct_ratio,
        |  round((length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))
        |        * 1.0 / length(text) + 1e-9, 6) AS digit_ratio,
        |  round((length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')))
        |        * 1.0 / length(text) + 1e-9, 6) AS upper_ratio,
        |  round(length(regexp_replace(trim(text), '\s+', '', 'g')) * 1.0 /
        |        len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) + 1e-9, 6) AS mean_word_len,
        |  round(len(list_filter(regexp_split_to_array(text, '\s+'),
        |          x -> list_contains(['the','a','an','and','or','but','if','then','of','in','on','at','to','for',
        |                              'with','by','from','as','is','are','was','were','be','been','it','this','that',
        |                              'he','she','they','we','you','i','his','her','their','our','not','no','so','do'],
        |                             lower(x))))
        |        * 1.0 / len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) + 1e-9, 6) AS stopword_ratio
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_text_quality_score" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS n_words,
        |    length(regexp_replace(trim(text), '\s+', '', 'g')) * 1.0 /
        |      len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS mean_word_len,
        |    (length(text) - length(regexp_replace(text, '[\.,;:!\?''"]', '', 'g')))
        |      * 1.0 / length(text) AS punct_ratio,
        |    (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))
        |      * 1.0 / length(text) AS digit_ratio,
        |    len(list_filter(regexp_split_to_array(text, '\s+'),
        |        x -> list_contains(['the','a','an','and','or','but','if','then','of','in','on','at','to','for',
        |                            'with','by','from','as','is','are','was','were','be','been','it','this','that',
        |                            'he','she','they','we','you','i','his','her','their','our','not','no','so','do'],
        |                           lower(x))))
        |      * 1.0 / len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS stopword_ratio
        |  FROM documents)
        |SELECT doc_id,
        |  round((CASE WHEN n_words BETWEEN 10 AND 100000 THEN 0.35 ELSE 0.0 END) +
        |        (CASE WHEN mean_word_len BETWEEN 2.5 AND 12.0 THEN 0.25 ELSE 0.0 END) +
        |        (CASE WHEN punct_ratio < 0.2 THEN 0.2 ELSE 0.0 END) +
        |        (CASE WHEN digit_ratio < 0.3 THEN 0.1 ELSE 0.0 END) +
        |        (CASE WHEN stopword_ratio > 0.05 THEN 0.1 ELSE 0.0 END), 2) AS quality_score
        |FROM f ORDER BY doc_id""".stripMargin,

    "q_token_counts" ->
      """SELECT doc_id,
        |  CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS INT) AS n_ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS INT) AS n_bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_rpv2_extras" ->
      // unigram entropy replayed from the same normalized-token convention
      // (empties dropped); lorem-ipsum occurrences via replace-length
      // arithmetic (== the engine's split-count for a non-overlapping
      // literal); ratios nudged + rounded per the roundf convention
      """WITH d AS (SELECT doc_id, text,
        |  trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS nt FROM documents),
        |tok AS (SELECT doc_id, w FROM (
        |    SELECT doc_id, unnest(string_split(nt, ' ')) AS w FROM d) WHERE w <> ''),
        |f AS (SELECT doc_id, w, count(*) AS c FROM tok GROUP BY doc_id, w),
        |tot AS (SELECT doc_id, sum(c) AS t FROM f GROUP BY doc_id),
        |ent AS (SELECT f.doc_id,
        |          sum(-(CAST(c AS DOUBLE) / t) * ln(CAST(c AS DOUBLE) / t)) AS e
        |        FROM f JOIN tot USING (doc_id) GROUP BY f.doc_id)
        |SELECT d.doc_id,
        |  round(ent.e + 1e-9, 6) AS unigram_entropy,
        |  round(((length(lower(d.text)) - length(replace(lower(d.text), 'lorem ipsum', ''))) / 11.0)
        |        / nullif(length(d.text), 0) + 1e-9, 8) AS lorem_ipsum_ratio,
        |  round(CAST(length(d.text) - length(replace(replace(d.text, '{', ''), '}', '')) AS DOUBLE)
        |        / nullif(length(d.text), 0) + 1e-9, 8) AS curly_bracket_ratio
        |FROM d LEFT JOIN ent ON d.doc_id = ent.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    "q_vocabulary" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS token
        |  FROM documents)
        |SELECT token, count(*) AS tf, count(DISTINCT doc_id) AS df
        |FROM toks WHERE token <> ''
        |GROUP BY token HAVING count(DISTINCT doc_id) >= 2
        |ORDER BY tf DESC, token LIMIT 50""".stripMargin,

    "q_chunk_docs" ->
      // null-text docs stay visible as one all-null chunk row (engine uses
      // explode_outer for exactly this); NULLS FIRST matches Spark's asc sort
      """WITH c AS (
        |  SELECT doc_id, text,
        |    unnest(CASE WHEN text IS NULL THEN [CAST(NULL AS BIGINT)]
        |      ELSE generate_series(0,
        |        greatest(CAST(ceil((length(text) - 50) / 150.0) AS INT), 1) - 1) END) AS chunk_idx
        |  FROM documents)
        |SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
        |  CAST(length(substring(text, chunk_idx * 150 + 1, 200)) AS INT) AS chunk_len,
        |  substring(text, chunk_idx * 150 + 1, 20) AS chunk_head
        |FROM c ORDER BY doc_id, chunk_idx NULLS FIRST""".stripMargin,

    "q_embed_meanpool" ->
      // positional weighted mean per (label, pos), norm over the pooled
      // vector, both engines round at 6dp with the nudge (sum-order ulps)
      """WITH x AS (
        |  SELECT label, CAST(vec_id % 5 + 1 AS DOUBLE) AS w,
        |    generate_subscripts(embedding, 1) AS pos,
        |    CAST(unnest(embedding) AS DOUBLE) AS v
        |  FROM embeddings),
        |m AS (SELECT label, pos, sum(v * w) / sum(w) AS mv FROM x GROUP BY label, pos),
        |nrm AS (SELECT label, sqrt(sum(mv * mv)) AS n FROM m GROUP BY label)
        |SELECT m.label, CAST(m.pos - 1 AS INT) AS pos,
        |  round(CASE WHEN nrm.n = 0 THEN m.mv ELSE m.mv / nrm.n END + 1e-9, 6) AS v
        |FROM m JOIN nrm USING (label)
        |ORDER BY label, pos""".stripMargin,

    "q_mrl_truncate" ->
      """WITH s AS (SELECT vec_id, CAST(embedding[1:16] AS DOUBLE[]) AS tv FROM embeddings),
        |n AS (SELECT vec_id, tv,
        |        sqrt(list_sum(list_transform(tv, x -> x * x))) AS nrm FROM s),
        |e AS (SELECT vec_id, generate_subscripts(tv, 1) AS pos, unnest(tv) AS x, nrm FROM n)
        |SELECT vec_id, CAST(pos - 1 AS INT) AS pos,
        |  round(CASE WHEN nrm = 0 THEN x ELSE x / nrm END + 1e-9, 6) AS v
        |FROM e ORDER BY vec_id, pos""".stripMargin,

    "q_embed_stats" ->
      """WITH n AS (
        |  SELECT vec_id, label, sqrt(sum(v * v)) AS nrm
        |  FROM (SELECT vec_id, label, CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings)
        |  GROUP BY vec_id, label)
        |SELECT label, count(*) AS n, round(avg(nrm), 4) AS avg_norm
        |FROM n GROUP BY label ORDER BY label""".stripMargin,

    "q_ann_brute" ->
      """WITH scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    round(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
        |                                 CAST(q.embedding AS DOUBLE[])), 6) AS cos
        |  FROM embeddings c, embeddings q
        |  WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id)
        |SELECT query_id, neighbor_id, cos FROM scored
        |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) <= 10
        |ORDER BY query_id, neighbor_id""".stripMargin,

    "q_quota_per_source" ->
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5('42:' || CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents) t
        |WHERE rn <= 10 ORDER BY doc_id""".stripMargin,

    "q_dedup_incremental" ->
      """WITH snap AS (
        |  SELECT DISTINCT trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS nt
        |  FROM documents WHERE text IS NOT NULL),
        |b AS (
        |  SELECT doc_id + 200000 AS doc_id, text, source FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, regexp_replace(text, '\s+\S+\s*$', ''), source
        |  FROM documents),
        |bn AS (
        |  SELECT doc_id, source,
        |    trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS nt FROM b)
        |SELECT doc_id, source FROM bn
        |WHERE nt IS NULL OR NOT EXISTS (SELECT 1 FROM snap WHERE snap.nt = bn.nt)
        |ORDER BY doc_id""".stripMargin,

    "q_length_histogram" ->
      """WITH b AS (
        |  SELECT CASE WHEN n_chars IS NULL OR n_chars <= 0 THEN -1
        |              ELSE length(bin(n_chars)) - 1 END AS len_bin, n_chars
        |  FROM documents),
        |g AS (
        |  SELECT len_bin, count(*) AS n_rows, min(n_chars) AS len_min,
        |    max(n_chars) AS len_max, avg(n_chars) AS len_avg
        |  FROM b GROUP BY len_bin)
        |SELECT CAST(len_bin AS INT) AS len_bin, CAST(n_rows AS BIGINT) AS n_rows,
        |  CASE WHEN len_bin >= 0 THEN CAST(CAST(1 AS BIGINT) << len_bin AS BIGINT) END AS len_lo,
        |  CASE WHEN len_bin >= 0 THEN CAST((CAST(1 AS BIGINT) << (len_bin + 1)) - 1 AS BIGINT) END AS len_hi,
        |  CAST(len_min AS BIGINT) AS len_min, CAST(len_max AS BIGINT) AS len_max,
        |  round(len_avg + 1e-9, 4) AS len_avg,
        |  round(n_rows / sum(n_rows) OVER () + 1e-9, 6) AS share
        |FROM g ORDER BY len_bin""".stripMargin,

    "q_embed_quantize" ->
      // coalesce(mx, 0): DuckDB list_max over an empty/all-null list is
      // NULL where Spark's aggregate-with-0.0-init yields 0.0 — without it
      // a degenerate vector would fail the gate on correct engine output
      """WITH e AS (
        |  SELECT vec_id, embedding,
        |    coalesce(list_max(list_transform(embedding,
        |      x -> abs(CAST(x AS DOUBLE)))), 0) AS mx
        |  FROM embeddings)
        |SELECT vec_id, CAST(len(embedding) AS INT) AS dim,
        |  round(mx + 1e-9, 6) AS q_scale,
        |  CAST(CASE WHEN mx = 0 THEN 0 ELSE coalesce(list_sum(list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / mx + 0.5) AS BIGINT))), 0) END AS BIGINT) AS q_sum,
        |  CAST(CASE WHEN len(list_filter(embedding, x -> x IS NOT NULL)) = 0 THEN NULL
        |    WHEN mx = 0 THEN 0 ELSE list_min(list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / mx + 0.5) AS BIGINT))) END AS INT) AS q_min,
        |  CAST(CASE WHEN len(list_filter(embedding, x -> x IS NOT NULL)) = 0 THEN NULL
        |    WHEN mx = 0 THEN 0 ELSE list_max(list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / mx + 0.5) AS BIGINT))) END AS INT) AS q_max
        |FROM e ORDER BY vec_id""".stripMargin,

    "q_sample_budget" ->
      """WITH gt AS (
        |  SELECT source, CAST(sum(n_chars) AS DOUBLE) AS gw
        |  FROM documents GROUP BY source)
        |SELECT d.doc_id, d.source, d.n_chars
        |FROM documents d JOIN gt USING (source)
        |WHERE CAST(CAST('0x' || substr(md5('7:' || CAST(d.doc_id AS VARCHAR)), 1, 15) AS BIGINT)
        |        % 1000000 AS BIGINT)
        |      < CAST(floor(least(1.0, 3000.0 / gw) * 1000000.0) AS BIGINT)
        |ORDER BY doc_id""".stripMargin,

    "q_script_profile" ->
      // per-class counts by regexp-class removal; classification precedence
      // mirrors the engine (ws → ASCII digit → script → other), so digits
      // are subtracted from no script class (Unicode digits are Common
      // script) and \x0B-class ws is the pinned Java dialect
      """WITH p AS (
        |  SELECT doc_id,
        |    text || ' Привет مرحبا 你好 ok 42' AS t
        |  FROM documents),
        |c AS (
        |  SELECT doc_id,
        |    CAST(length(t) AS INT) AS n_chars,
        |    length(t) - length(regexp_replace(t, '[ \t\n\v\f\r]', '', 'g')) AS n_ws,
        |    length(t) - length(regexp_replace(t, '[0-9]', '', 'g')) AS n_digit,
        |    length(t) - length(regexp_replace(t, '[\p{Latin}]', '', 'g')) AS n_latin,
        |    length(t) - length(regexp_replace(t, '[\p{Han}]', '', 'g')) AS n_han,
        |    length(t) - length(regexp_replace(t, '[\p{Cyrillic}]', '', 'g')) AS n_cyrillic,
        |    length(t) - length(regexp_replace(t, '[\p{Arabic}]', '', 'g')) AS n_arabic
        |  FROM p),
        |d AS (
        |  SELECT doc_id, n_chars, n_ws, n_digit, n_latin, n_han, n_cyrillic, n_arabic,
        |    CAST(nullif(n_chars - n_ws, 0) AS DOUBLE) AS denom
        |  FROM c)
        |SELECT doc_id, n_chars AS n_chars_sc,
        |  round(n_latin / denom + 1e-9, 6) AS latin_ratio,
        |  round(n_han / denom + 1e-9, 6) AS han_ratio,
        |  round(n_cyrillic / denom + 1e-9, 6) AS cyrillic_ratio,
        |  round(n_arabic / denom + 1e-9, 6) AS arabic_ratio,
        |  round(n_digit / denom + 1e-9, 6) AS digit_ratio_sc,
        |  round((n_chars - n_ws - n_digit - n_latin - n_han - n_cyrillic - n_arabic) / denom + 1e-9, 6)
        |    AS other_ratio_sc
        |FROM d ORDER BY doc_id""".stripMargin,

    "q_snapshot_diff" ->
      // content equality on the normalized text directly (the engine
      // compares sha2 of the same normalization — same equivalence);
      // null-safe comparison: null → null is unchanged
      """WITH o AS (
        |  SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
        |  FROM documents),
        |base AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0
        |      THEN trim(regexp_replace(lower(text || ' edited'), '\s+', ' ', 'g'))
        |      ELSE trim(regexp_replace(lower(text), '\s+', ' ', 'g')) END AS t
        |  FROM documents WHERE doc_id % 11 <> 0),
        |adds AS (
        |  SELECT doc_id + 500000 AS doc_id,
        |    trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
        |  FROM documents WHERE doc_id % 13 = 0),
        |n AS (SELECT * FROM base UNION ALL SELECT * FROM adds)
        |SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
        |  CASE WHEN o.doc_id IS NULL THEN 'added'
        |       WHEN n.doc_id IS NULL THEN 'removed'
        |       WHEN o.t IS NOT DISTINCT FROM n.t THEN 'unchanged'
        |       ELSE 'changed' END AS status
        |FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
        |ORDER BY doc_id""".stripMargin,

    "q_assign_split" ->
      // cumulative thresholds replicate the engine's left-to-right double
      // accumulation exactly: (0.8), (0.8+0.1), ((0.8+0.1)+0.1)
      """WITH b AS (
        |  SELECT doc_id, lang,
        |    CAST(CAST('0x' || substr(md5('11:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
        |      % 1000000 AS BIGINT) AS bk
        |  FROM documents)
        |SELECT doc_id, lang,
        |  CASE WHEN bk < CAST(floor(0.8 * 1000000.0 + 0.000001) AS BIGINT) THEN 'train'
        |       WHEN bk < CAST(floor((0.8 + 0.1) * 1000000.0 + 0.000001) AS BIGINT) THEN 'val'
        |       WHEN bk < CAST(floor(((0.8 + 0.1) + 0.1) * 1000000.0 + 0.000001) AS BIGINT) THEN 'test'
        |  END AS split
        |FROM b ORDER BY doc_id""".stripMargin,

    "q_split_leakage_safe" ->
      // cluster key = min doc_id per normalized text (null text -> own id,
      // matching exactDupMap's null screen); then the assign_split gate
      // arithmetic on the CLUSTER key
      """WITH u AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 500000, text FROM documents WHERE doc_id % 5 = 0),
        |n AS (SELECT doc_id,
        |        trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS nt FROM u),
        |g AS (SELECT doc_id,
        |        CASE WHEN nt IS NULL THEN doc_id
        |             ELSE min(doc_id) OVER (PARTITION BY nt) END AS ckey FROM n),
        |b AS (SELECT doc_id,
        |        CAST(CAST('0x' || substr(md5('12s:' || CAST(ckey AS VARCHAR)), 1, 15) AS BIGINT)
        |          % 1000000 AS BIGINT) AS bk FROM g)
        |SELECT doc_id,
        |  CASE WHEN bk < CAST(floor(0.8 * 1000000.0 + 0.000001) AS BIGINT) THEN 'train'
        |       WHEN bk < CAST(floor((0.8 + 0.1) * 1000000.0 + 0.000001) AS BIGINT) THEN 'val'
        |       WHEN bk < CAST(floor(((0.8 + 0.1) + 0.1) * 1000000.0 + 0.000001) AS BIGINT) THEN 'test'
        |  END AS split
        |FROM b ORDER BY doc_id""".stripMargin,

    "q_repeat_epochs" ->
      // copies = floor(e) + (bucket < floor(frac(e)*1e6 + 1e-6)); epoch is
      // the 1-based copy index via generate_series
      """WITH b AS (
        |  SELECT doc_id, lang,
        |    CAST(CAST('0x' || substr(md5('13:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
        |      % 1000000 AS BIGINT) AS bk
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN lang = 'en' THEN 2 + CASE WHEN bk < 500000 THEN 1 ELSE 0 END
        |         WHEN lang = 'de' THEN 0 + CASE WHEN bk < 500000 THEN 1 ELSE 0 END
        |         ELSE 1 END AS n
        |  FROM b)
        |SELECT doc_id, lang, CAST(u.e AS INT) AS epoch
        |FROM c, unnest(generate_series(1, n)) AS u(e)
        |WHERE n > 0 ORDER BY doc_id, epoch""".stripMargin,

    "q_sample_temperature" ->
      // mirrors Scale.temperatureSample exactly: pow/sum/× ÷ chain in the
      // same operation order, floor(frac·1e6 + 1e-6) pinned threshold
      """WITH gs AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
        |w AS (SELECT lang, n, pow(CAST(n AS DOUBLE), 0.5) AS w FROM gs),
        |tot AS (SELECT sum(w) AS tw FROM w),
        |f AS (SELECT lang,
        |        least(1.0, 300.0 * w / tw / CAST(n AS DOUBLE)) AS frac
        |      FROM w CROSS JOIN tot)
        |SELECT d.doc_id, d.lang, d.source
        |FROM documents d JOIN f USING (lang)
        |WHERE CAST(CAST('0x' || substr(md5('9:' || CAST(d.doc_id AS VARCHAR)), 1, 15) AS BIGINT)
        |        % 1000000 AS BIGINT)
        |      < CAST(floor(frac * 1000000.0 + 0.000001) AS BIGINT)
        |ORDER BY doc_id""".stripMargin,

    "q_unimax_alloc" ->
      // integer waterfall replay: caps sort ascending, the capped set is a
      // prefix (see Scale.unimaxAllocation scaladoc for the proof), HUGEINT
      // mirrors the engine's decimal(38,0) overflow guard; only the final
      // level division is a double, edge-rounded on both sides
      """WITH tot AS (
        |  SELECT CAST(floor(1.6 * CAST(sum(n_chars) AS DOUBLE) + 0.000001) AS BIGINT) AS b
        |  FROM documents),
        |gs AS (SELECT lang, CAST(coalesce(sum(n_chars), 0) AS BIGINT) AS group_weight
        |       FROM documents GROUP BY lang),
        |c AS (SELECT lang, group_weight,
        |        CAST(floor(CAST(group_weight AS DOUBLE) * 2.0 + 0.000001) AS BIGINT) AS cap
        |      FROM gs),
        |o AS (SELECT lang, group_weight, cap,
        |        row_number() OVER w AS idx,
        |        coalesce(sum(cap) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |          AS cumprev,
        |        count(*) OVER () AS l
        |      FROM c WINDOW w AS (ORDER BY cap, lang)),
        |f AS (SELECT o.*, t.b,
        |        (CAST(cap AS HUGEINT) * (l - idx + 1) <= CAST(b - cumprev AS HUGEINT)) AS capped
        |      FROM o CROSS JOIN tot t),
        |g AS (SELECT f.*,
        |        coalesce(sum(CASE WHEN capped THEN cap END) OVER (), 0) AS spent,
        |        coalesce(sum(CASE WHEN capped THEN 1 ELSE 0 END) OVER (), 0) AS ncap
        |      FROM f)
        |SELECT lang, group_weight, cap, capped,
        |  round(CASE WHEN capped THEN CAST(cap AS DOUBLE)
        |             ELSE CAST(b - spent AS DOUBLE) / CAST(l - ncap AS DOUBLE) END + 1e-9, 4)
        |    AS allocation,
        |  round(coalesce(CASE WHEN capped THEN CAST(cap AS DOUBLE)
        |             ELSE CAST(b - spent AS DOUBLE) / CAST(l - ncap AS DOUBLE) END
        |        / nullif(CAST(group_weight AS DOUBLE), 0.0), 0.0) + 1e-9, 6) AS epochs
        |FROM g ORDER BY lang NULLS FIRST""".stripMargin,

    "q_unimax_sample" ->
      // allocation chain above → per-lang (base, frac-threshold) → the
      // repeatEpochs copy rule with the md5 gate
      """WITH tot AS (
        |  SELECT CAST(floor(1.6 * CAST(sum(n_chars) AS DOUBLE) + 0.000001) AS BIGINT) AS b
        |  FROM documents),
        |gs AS (SELECT lang, CAST(coalesce(sum(n_chars), 0) AS BIGINT) AS group_weight
        |       FROM documents GROUP BY lang),
        |c AS (SELECT lang, group_weight,
        |        CAST(floor(CAST(group_weight AS DOUBLE) * 2.0 + 0.000001) AS BIGINT) AS cap
        |      FROM gs),
        |o AS (SELECT lang, group_weight, cap,
        |        row_number() OVER w AS idx,
        |        coalesce(sum(cap) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |          AS cumprev,
        |        count(*) OVER () AS l
        |      FROM c WINDOW w AS (ORDER BY cap, lang)),
        |f AS (SELECT o.*, t.b,
        |        (CAST(cap AS HUGEINT) * (l - idx + 1) <= CAST(b - cumprev AS HUGEINT)) AS capped
        |      FROM o CROSS JOIN tot t),
        |g AS (SELECT f.*,
        |        coalesce(sum(CASE WHEN capped THEN cap END) OVER (), 0) AS spent,
        |        coalesce(sum(CASE WHEN capped THEN 1 ELSE 0 END) OVER (), 0) AS ncap
        |      FROM f),
        |e AS (SELECT lang,
        |        CAST(floor(ep) AS INT) AS base,
        |        CAST(floor((ep - floor(ep)) * 1000000.0 + 0.000001) AS BIGINT) AS fthr
        |      FROM (SELECT lang,
        |              coalesce(CASE WHEN capped THEN CAST(cap AS DOUBLE)
        |                   ELSE CAST(b - spent AS DOUBLE) / CAST(l - ncap AS DOUBLE) END
        |              / nullif(CAST(group_weight AS DOUBLE), 0.0), 0.0) AS ep
        |            FROM g)),
        |k AS (SELECT d.doc_id, d.lang,
        |        e.base + CASE WHEN
        |          CAST(CAST('0x' || substr(md5('17:' || CAST(d.doc_id AS VARCHAR)), 1, 15) AS BIGINT)
        |            % 1000000 AS BIGINT) < e.fthr THEN 1 ELSE 0 END AS n
        |      FROM documents d JOIN e ON d.lang IS NOT DISTINCT FROM e.lang)
        |SELECT doc_id, lang, CAST(u.e AS INT) AS epoch
        |FROM k, unnest(generate_series(1, n)) AS u(e)
        |WHERE n > 0 ORDER BY doc_id, epoch""".stripMargin,

    "q_lsh_tune" ->
      // same midpoint Riemann sum over the banding S-curve, folded in index
      // order; 6dp edge-rounding absorbs pow/fold ulp before the rank
      """WITH br AS (
        |  SELECT CAST(b AS INT) AS bands, CAST(64 // b AS INT) AS rows_per_band
        |  FROM unnest(generate_series(1, 64)) AS g(b) WHERE 64 % b = 0),
        |a AS (
        |  SELECT bands, rows_per_band,
        |    list_sum(list_transform(generate_series(1, 200), i ->
        |      CASE WHEN (CAST(i AS DOUBLE) - 0.5) / 200.0 < 0.5
        |        THEN 1.0 - pow(1.0 - pow((CAST(i AS DOUBLE) - 0.5) / 200.0,
        |               CAST(rows_per_band AS DOUBLE)), CAST(bands AS DOUBLE))
        |        ELSE 0.0 END)) / 200.0 AS fp,
        |    list_sum(list_transform(generate_series(1, 200), i ->
        |      CASE WHEN (CAST(i AS DOUBLE) - 0.5) / 200.0 >= 0.5
        |        THEN 1.0 - (1.0 - pow(1.0 - pow((CAST(i AS DOUBLE) - 0.5) / 200.0,
        |               CAST(rows_per_band AS DOUBLE)), CAST(bands AS DOUBLE)))
        |        ELSE 0.0 END)) / 200.0 AS fn
        |  FROM br)
        |SELECT bands, rows_per_band,
        |  round(fp + 1e-9, 6) AS fp_area,
        |  round(fn + 1e-9, 6) AS fn_area,
        |  round(fp + fn + 1e-9, 6) AS total_err,
        |  CAST(rank() OVER (ORDER BY round(fp + fn + 1e-9, 6), bands DESC) AS INT) AS pick_rank
        |FROM a ORDER BY bands""".stripMargin,

    "q_gopher_rules" ->
      // full rule replay: the mean-word-length identity (len(norm) − n + 1)/n
      // holds because the normalization collapses to single spaces; '...'
      // counts are replace-diffs over 3 (exact multiples); every rule is
      // null→FALSE like the engine
      """WITH p AS (
        |  SELECT doc_id,
        |    CASE CAST(doc_id % 5 AS INT)
        |      WHEN 0 THEN text || e'\n- one\n- two\n- three\n- four\n- five\n- six\n- seven\n- eight\n- nine\n- ten'
        |      WHEN 1 THEN text || e' see more...\nnext line trails off...\nanother...\nyet another...'
        |      WHEN 2 THEN text || ' ## ## ## ## ## ## ## ##'
        |      WHEN 3 THEN text || ' 111 222 333 444 555 666 777 888 999 000 123 456 789 012 345 678 901 234 567 890'
        |      ELSE text || ' to be of and that have with' END AS text
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, text,
        |    trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
        |  FROM p),
        |c AS (
        |  SELECT doc_id, text, norm,
        |    list_filter(string_split(norm, ' '), x -> x <> '') AS ws,
        |    list_filter(string_split(text, chr(10)), l -> trim(l) <> '') AS lines
        |  FROM b),
        |d AS (
        |  SELECT doc_id, text, norm, ws, lines,
        |    CAST(len(ws) AS DOUBLE) AS n,
        |    CAST(len(lines) AS DOUBLE) AS nl,
        |    length(text) - length(regexp_replace(text, '#', '', 'g')) AS hashcnt,
        |    (length(text) - length(regexp_replace(text, '\.\.\.', '', 'g'))) / 3 AS ellcnt
        |  FROM c),
        |r AS (
        |  SELECT doc_id,
        |    coalesce(n >= 30 AND n <= 100000, FALSE) AS r_words,
        |    coalesce(
        |      CAST(length(norm) - len(ws) + 1 AS DOUBLE) / nullif(n, 0.0) >= 3.0 AND
        |      CAST(length(norm) - len(ws) + 1 AS DOUBLE) / nullif(n, 0.0) <= 10.0, FALSE)
        |      AS r_mwl,
        |    coalesce(CAST(hashcnt + ellcnt AS DOUBLE) / nullif(n, 0.0) <= 0.1, FALSE)
        |      AS r_symbol,
        |    coalesce(CAST(len(list_filter(lines, l -> regexp_matches(l, '^\s*[-*•]')))
        |      AS DOUBLE) / nullif(nl, 0.0) <= 0.9, FALSE) AS r_bullet,
        |    coalesce(CAST(len(list_filter(lines, l -> regexp_matches(l, '\.\.\.\s*$')))
        |      AS DOUBLE) / nullif(nl, 0.0) <= 0.3, FALSE) AS r_ellipsis,
        |    coalesce(CAST(len(list_filter(ws, w -> regexp_matches(w, '[a-z]')))
        |      AS DOUBLE) / nullif(n, 0.0) >= 0.8, FALSE) AS r_alpha,
        |    coalesce(len(list_filter(['the','be','to','of','and','that','have','with'],
        |      s -> list_contains(ws, s))) >= 2, FALSE) AS r_stop
        |  FROM d)
        |SELECT doc_id,
        |  r_words AS gopher_word_count_ok, r_mwl AS gopher_mean_word_len_ok,
        |  r_symbol AS gopher_symbol_ratio_ok, r_bullet AS gopher_bullet_lines_ok,
        |  r_ellipsis AS gopher_ellipsis_lines_ok, r_alpha AS gopher_alpha_words_ok,
        |  r_stop AS gopher_stopwords_ok,
        |  (r_words AND r_mwl AND r_symbol AND r_bullet AND r_ellipsis AND r_alpha AND r_stop)
        |    AS gopher_keep,
        |  coalesce(array_to_string(list_filter([
        |    CASE WHEN NOT r_words THEN 'word_count' END,
        |    CASE WHEN NOT r_mwl THEN 'mean_word_len' END,
        |    CASE WHEN NOT r_symbol THEN 'symbol_ratio' END,
        |    CASE WHEN NOT r_bullet THEN 'bullet_lines' END,
        |    CASE WHEN NOT r_ellipsis THEN 'ellipsis_lines' END,
        |    CASE WHEN NOT r_alpha THEN 'alpha_words' END,
        |    CASE WHEN NOT r_stop THEN 'stopwords' END], x -> x IS NOT NULL), ','), '')
        |    AS gopher_fail_reasons
        |FROM r ORDER BY doc_id""".stripMargin,

    "q_gopher_multilingual" ->
      // lang-dispatched replay of the two anglocentric rules (per-language
      // stopword lists/floors and alpha regex/floors; unknown lang → TRUE,
      // the neutral fallback) on top of the q_gopher_rules rule replay.
      // RE2's \p{L} and Java's agree on these Latin-script fixtures.
      """WITH p AS (
        |  SELECT doc_id, lang,
        |    CASE CAST(doc_id % 3 AS INT)
        |      WHEN 0 THEN text || ' of and la el que der und est le'
        |      WHEN 2 THEN text || ' 111 222 333 444 555 666 777 888'
        |      ELSE text END AS text
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, lang, text,
        |    trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
        |  FROM p),
        |c AS (
        |  SELECT doc_id, lang, text, norm,
        |    list_filter(string_split(norm, ' '), x -> x <> '') AS ws,
        |    list_filter(string_split(text, chr(10)), l -> trim(l) <> '') AS lines
        |  FROM b),
        |d AS (
        |  SELECT doc_id, lang, text, norm, ws, lines,
        |    CAST(len(ws) AS DOUBLE) AS n,
        |    CAST(len(lines) AS DOUBLE) AS nl,
        |    length(text) - length(regexp_replace(text, '#', '', 'g')) AS hashcnt,
        |    (length(text) - length(regexp_replace(text, '\.\.\.', '', 'g'))) / 3 AS ellcnt
        |  FROM c),
        |r AS (
        |  SELECT doc_id, lang,
        |    coalesce(n >= 10 AND n <= 100000, FALSE) AS r_words,
        |    coalesce(
        |      CAST(length(norm) - len(ws) + 1 AS DOUBLE) / nullif(n, 0.0) >= 3.0 AND
        |      CAST(length(norm) - len(ws) + 1 AS DOUBLE) / nullif(n, 0.0) <= 10.0, FALSE)
        |      AS r_mwl,
        |    coalesce(CAST(hashcnt + ellcnt AS DOUBLE) / nullif(n, 0.0) <= 0.1, FALSE)
        |      AS r_symbol,
        |    coalesce(CAST(len(list_filter(lines, l -> regexp_matches(l, '^\s*[-*•]')))
        |      AS DOUBLE) / nullif(nl, 0.0) <= 0.9, FALSE) AS r_bullet,
        |    coalesce(CAST(len(list_filter(lines, l -> regexp_matches(l, '\.\.\.\s*$')))
        |      AS DOUBLE) / nullif(nl, 0.0) <= 0.3, FALSE) AS r_ellipsis,
        |    CASE lang
        |      WHEN 'en' THEN coalesce(CAST(len(list_filter(ws, w -> regexp_matches(w, '[a-z]')))
        |        AS DOUBLE) / nullif(n, 0.0) >= 0.8, FALSE)
        |      WHEN 'fr' THEN coalesce(CAST(len(list_filter(ws, w -> regexp_matches(w, '[a-z]')))
        |        AS DOUBLE) / nullif(n, 0.0) >= 0.8, FALSE)
        |      WHEN 'es' THEN coalesce(CAST(len(list_filter(ws, w -> regexp_matches(w, '\p{L}')))
        |        AS DOUBLE) / nullif(n, 0.0) >= 0.5, FALSE)
        |      WHEN 'de' THEN coalesce(CAST(len(list_filter(ws, w -> regexp_matches(w, '\p{L}')))
        |        AS DOUBLE) / nullif(n, 0.0) >= 0.9, FALSE)
        |      ELSE TRUE END AS r_alpha,
        |    CASE lang
        |      WHEN 'en' THEN coalesce(len(list_filter(['the','and','of','to'],
        |        s -> list_contains(ws, s))) >= 2, FALSE)
        |      WHEN 'es' THEN coalesce(len(list_filter(['el','la','que'],
        |        s -> list_contains(ws, s))) >= 2, FALSE)
        |      WHEN 'de' THEN coalesce(len(list_filter(['der','die','und','ist'],
        |        s -> list_contains(ws, s))) >= 1, FALSE)
        |      WHEN 'fr' THEN coalesce(len(list_filter(['le','est'],
        |        s -> list_contains(ws, s))) >= 1, FALSE)
        |      ELSE TRUE END AS r_stop
        |  FROM d)
        |SELECT doc_id, lang,
        |  r_words AS gopher_word_count_ok, r_mwl AS gopher_mean_word_len_ok,
        |  r_symbol AS gopher_symbol_ratio_ok, r_bullet AS gopher_bullet_lines_ok,
        |  r_ellipsis AS gopher_ellipsis_lines_ok, r_alpha AS gopher_alpha_words_ok,
        |  r_stop AS gopher_stopwords_ok,
        |  (r_words AND r_mwl AND r_symbol AND r_bullet AND r_ellipsis AND r_alpha AND r_stop)
        |    AS gopher_keep,
        |  coalesce(array_to_string(list_filter([
        |    CASE WHEN NOT r_words THEN 'word_count' END,
        |    CASE WHEN NOT r_mwl THEN 'mean_word_len' END,
        |    CASE WHEN NOT r_symbol THEN 'symbol_ratio' END,
        |    CASE WHEN NOT r_bullet THEN 'bullet_lines' END,
        |    CASE WHEN NOT r_ellipsis THEN 'ellipsis_lines' END,
        |    CASE WHEN NOT r_alpha THEN 'alpha_words' END,
        |    CASE WHEN NOT r_stop THEN 'stopwords' END], x -> x IS NOT NULL), ','), '')
        |    AS gopher_fail_reasons
        |FROM r ORDER BY doc_id""".stripMargin,

    "q_dedup_lines" ->
      // first-occurrence keep replayed via list_position (1-based, = the
      // engine's array_position == i+1 with a 0-based lambda index)
      """WITH p AS (
        |  SELECT doc_id, text || CASE CAST(doc_id % 3 AS INT)
        |    WHEN 0 THEN e'\nfollow us on social\nunique tail one\nfollow us on social\nfollow us on social'
        |    WHEN 1 THEN e'\nline a\nline b'
        |    ELSE e'\n\nshort\n\nshort' END AS text
        |  FROM documents),
        |l AS (SELECT doc_id, text, string_split(text, chr(10)) AS lines FROM p),
        |k AS (SELECT doc_id, lines,
        |        list_filter(lines, (x, i) -> length(x) < 1 OR list_position(lines, x) = i)
        |          AS kept
        |      FROM l)
        |SELECT doc_id, CAST(len(lines) AS INT) AS n_lines,
        |  CAST(coalesce(len(lines) - len(kept), 0) AS INT) AS n_removed_lines,
        |  md5(array_to_string(kept, chr(10))) AS dedup_md5
        |FROM k ORDER BY doc_id""".stripMargin,

    "q_c4_clean" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    CASE
        |      WHEN doc_id % 4 = 0 THEN text ||
        |        (CASE WHEN doc_id % 8 = 0 THEN ' grumbo' ELSE '' END) ||
        |        e'\nA good line with punctuation.\nAnother fine sentence here today!' ||
        |        e'\nYes this line also ends well?\nShort no.\njavascript line is removed ok.' ||
        |        e'\nFive more words arrive here.\nAnd a final sentence lands.'
        |      WHEN doc_id % 4 = 1 THEN text ||
        |        e'\nOnly two good sentences here.\nAnd one more proper line.'
        |      WHEN doc_id % 4 = 2 THEN text || ' lorem ipsum' ||
        |        e'\nA good line with punctuation.\nAnother fine sentence here today!' ||
        |        e'\nYes this line also ends well?\nShort no.\njavascript line is removed ok.' ||
        |        e'\nFive more words arrive here.\nAnd a final sentence lands.'
        |      ELSE text END AS text
        |  FROM documents),
        |k AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split(text, chr(10)), x ->
        |      regexp_matches(x, '[.!?"”]\s*$')
        |      AND len(list_filter(regexp_split_to_array(trim(x), '\s+'), t -> t <> '')) >= 3
        |      AND NOT regexp_matches(lower(x), 'javascript')) AS kept
        |  FROM p),
        |r AS (
        |  SELECT doc_id, text AS orig,
        |    CASE WHEN text IS NULL THEN NULL
        |         ELSE coalesce(array_to_string(kept, chr(10)), '') END AS newt,
        |    CASE WHEN text IS NULL THEN NULL ELSE len(kept) END AS nk
        |  FROM k),
        |s AS (
        |  SELECT doc_id, orig, newt, nk,
        |    CASE WHEN newt IS NULL THEN NULL
        |         ELSE length(newt) - length(regexp_replace(newt, '[.!?]', '', 'g')) END AS ns
        |  FROM r),
        |tk AS (
        |  SELECT doc_id,
        |    list_filter(string_split(trim(regexp_replace(lower(orig), '\s+', ' ', 'g')), ' '),
        |      x -> x <> '') AS toks
        |  FROM s)
        |SELECT s.doc_id, CAST(nk AS INT) AS c4_n_lines_kept, CAST(ns AS INT) AS c4_n_sentences,
        |  CASE WHEN orig IS NULL THEN NULL ELSE
        |    ns >= 5 AND NOT regexp_matches(lower(orig), 'lorem ipsum')
        |    AND strpos(orig, '{') = 0
        |    AND NOT list_contains(tk.toks, 'grumbo') END AS c4_keep,
        |  md5(newt) AS text_md5
        |FROM s JOIN tk ON tk.doc_id = s.doc_id
        |ORDER BY s.doc_id""".stripMargin,

    "q_soft_dedup" ->
      """WITH u AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 900000 AS doc_id, text FROM documents WHERE doc_id % 4 = 0),
        |n AS (SELECT doc_id,
        |        trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
        |      FROM u),
        |c AS (SELECT doc_id, t,
        |        CASE WHEN t IS NULL THEN 1 ELSE count(*) OVER (PARTITION BY t) END AS dc
        |      FROM n)
        |SELECT doc_id, dc AS dup_count,
        |  round(1.0 / dc + 1e-9, 6) AS soft_weight
        |FROM c ORDER BY doc_id""".stripMargin,

    "q_repetition_signals" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 4 = 0 THEN t2 || ' r1 r2 r3 r4 r5 r1 r2 r3 r4 r5' ELSE t2 END AS text
        |  FROM (
        |    SELECT doc_id,
        |      CASE WHEN doc_id % 3 = 0 THEN text || e'\nrepeat me line\nrepeat me line'
        |           ELSE text END AS t2
        |    FROM documents)),
        |base AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split(text, chr(10)), x -> trim(x) <> '') AS lines,
        |    trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
        |  FROM p),
        |lf AS (
        |  SELECT doc_id, lines, norm,
        |    list_filter(lines, (x, i) -> list_position(lines, x) <> i) AS dup_lines
        |  FROM base),
        |lsig AS (
        |  SELECT doc_id, norm,
        |    CASE WHEN len(lines) > 0
        |      THEN round(CAST(len(dup_lines) AS DOUBLE) / len(lines) + 1e-9, 6) END AS dup_line_frac,
        |    CASE WHEN list_sum(list_transform(lines, x -> length(x))) > 0
        |      THEN round(CAST(coalesce(list_sum(list_transform(dup_lines, x -> length(x))), 0) AS DOUBLE)
        |                 / list_sum(list_transform(lines, x -> length(x))) + 1e-9, 6) END AS dup_line_char_frac
        |  FROM lf),
        |toks AS (
        |  SELECT doc_id, norm,
        |    list_filter(string_split(norm, ' '), x -> x <> '') AS ws
        |  FROM base WHERE norm IS NOT NULL),
        |g2 AS (
        |  SELECT doc_id, norm,
        |    array_to_string(list_slice(ws, CAST(i AS INT), CAST(i AS INT) + 1), ' ') AS gram
        |  FROM (SELECT doc_id, norm, ws, unnest(range(1, len(ws))) AS i
        |        FROM toks WHERE len(ws) >= 2)),
        |g5 AS (
        |  SELECT doc_id, norm,
        |    array_to_string(list_slice(ws, CAST(i AS INT), CAST(i AS INT) + 4), ' ') AS gram
        |  FROM (SELECT doc_id, norm, ws, unnest(range(1, len(ws) - 3)) AS i
        |        FROM toks WHERE len(ws) >= 5)),
        |c2 AS (SELECT doc_id, norm, gram, count(*) AS c FROM g2 GROUP BY 1, 2, 3),
        |c5 AS (SELECT doc_id, norm, gram, count(*) AS c FROM g5 GROUP BY 1, 2, 3),
        |top2 AS (
        |  SELECT doc_id,
        |    round(c * length(gram) / CAST(length(norm) AS DOUBLE) + 1e-9, 6) AS top_frac
        |  FROM (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, gram ASC) AS rn
        |        FROM c2) WHERE rn = 1),
        |dup5 AS (
        |  SELECT doc_id,
        |    round(CAST(coalesce(sum(CASE WHEN c >= 2 THEN c * length(gram) END), 0) AS DOUBLE)
        |          / any_value(length(norm)) + 1e-9, 6) AS dup_frac
        |  FROM c5 GROUP BY doc_id)
        |SELECT l.doc_id, l.dup_line_frac, l.dup_line_char_frac,
        |  CASE WHEN length(l.norm) > 0 THEN t.top_frac END AS top_ngram_char_frac,
        |  CASE WHEN length(l.norm) > 0 THEN d.dup_frac END AS dup_ngram_char_frac
        |FROM lsig l
        |LEFT JOIN top2 t ON t.doc_id = l.doc_id
        |LEFT JOIN dup5 d ON d.doc_id = l.doc_id
        |ORDER BY l.doc_id""".stripMargin,

    "q_recipe_attrition" ->
      """WITH s0 AS (SELECT doc_id, lang, n_chars FROM documents),
        |s1 AS (SELECT * FROM s0 WHERE doc_id % 5 <> 1),
        |s2 AS (SELECT doc_id, lang, n_chars - 10 AS n_chars FROM s1),
        |s3 AS (SELECT * FROM s2 WHERE n_chars >= 190),
        |s4 AS (SELECT * FROM s3 WHERE lang IN ('en', 'de')),
        |m AS (
        |  SELECT 0 AS stage, count(*) AS r, CAST(sum(n_chars) AS BIGINT) AS w FROM s0
        |  UNION ALL SELECT 1, count(*), CAST(sum(n_chars) AS BIGINT) FROM s1
        |  UNION ALL SELECT 2, count(*), CAST(sum(n_chars) AS BIGINT) FROM s2
        |  UNION ALL SELECT 3, count(*), CAST(sum(n_chars) AS BIGINT) FROM s3
        |  UNION ALL SELECT 4, count(*), CAST(sum(n_chars) AS BIGINT) FROM s4)
        |SELECT a.stage AS stage,
        |  CASE a.stage WHEN 2 THEN 'Calculate' ELSE 'FilterCondition' END AS op,
        |  b.r AS rows_in, a.r AS rows_out, b.r - a.r AS rows_dropped,
        |  b.w AS weight_in, a.w AS weight_out
        |FROM m a JOIN m b ON b.stage = a.stage - 1
        |WHERE a.stage >= 1
        |ORDER BY stage""".stripMargin,

    "q_curation_recipe" ->
      // the whole chain in one CTE pipeline: plant → copies → line dedup →
      // gopher rules over the REBUILT text (minWords 30, minStopwords 1) →
      // keep-first exact dedup on the normalized rewritten text
      """WITH b AS (
        |  SELECT doc_id, CASE WHEN doc_id % 3 = 0
        |    THEN text || e'\nfollow us on social\nmore text here\nfollow us on social'
        |    ELSE text END AS text
        |  FROM documents),
        |u AS (
        |  SELECT doc_id, text FROM b
        |  UNION ALL
        |  SELECT doc_id + 600000 AS doc_id, text FROM b WHERE doc_id % 2 = 0),
        |l AS (SELECT doc_id, string_split(text, chr(10)) AS lines FROM u),
        |dl AS (SELECT doc_id, lines,
        |        list_filter(lines, (x, i) -> length(x) < 1 OR list_position(lines, x) = i)
        |          AS kept
        |      FROM l),
        |t2 AS (SELECT doc_id,
        |        CAST(coalesce(len(lines) - len(kept), 0) AS INT) AS n_removed_lines,
        |        array_to_string(kept, chr(10)) AS text
        |      FROM dl),
        |g0 AS (SELECT doc_id, n_removed_lines, text,
        |        trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm FROM t2),
        |dd AS (
        |  SELECT doc_id, n_removed_lines, text, norm FROM g0
        |  QUALIFY row_number() OVER (PARTITION BY norm ORDER BY doc_id) = 1),
        |g1 AS (SELECT *, list_filter(string_split(norm, ' '), x -> x <> '') AS ws,
        |        list_filter(string_split(text, chr(10)), l2 -> trim(l2) <> '') AS lns
        |      FROM dd),
        |g2 AS (SELECT *, CAST(len(ws) AS DOUBLE) AS n, CAST(len(lns) AS DOUBLE) AS nl,
        |        length(text) - length(regexp_replace(text, '#', '', 'g')) AS hashcnt,
        |        (length(text) - length(regexp_replace(text, '\.\.\.', '', 'g'))) / 3 AS ellcnt
        |      FROM g1)
        |SELECT doc_id, n_removed_lines, md5(text) AS text_md5 FROM g2
        |WHERE coalesce(n >= 30 AND n <= 100000, FALSE)
        |  AND coalesce(CAST(length(norm) - len(ws) + 1 AS DOUBLE) / nullif(n, 0.0) >= 3.0
        |    AND CAST(length(norm) - len(ws) + 1 AS DOUBLE) / nullif(n, 0.0) <= 10.0, FALSE)
        |  AND coalesce(CAST(hashcnt + ellcnt AS DOUBLE) / nullif(n, 0.0) <= 0.1, FALSE)
        |  AND coalesce(CAST(len(list_filter(lns, l2 -> regexp_matches(l2, '^\s*[-*•]')))
        |    AS DOUBLE) / nullif(nl, 0.0) <= 0.9, FALSE)
        |  AND coalesce(CAST(len(list_filter(lns, l2 -> regexp_matches(l2, '\.\.\.\s*$')))
        |    AS DOUBLE) / nullif(nl, 0.0) <= 0.3, FALSE)
        |  AND coalesce(CAST(len(list_filter(ws, w -> regexp_matches(w, '[a-z]')))
        |    AS DOUBLE) / nullif(n, 0.0) >= 0.8, FALSE)
        |  AND coalesce(len(list_filter(['the','be','to','of','and','that','have','with'],
        |    st -> list_contains(ws, st))) >= 1, FALSE)
        |ORDER BY doc_id""".stripMargin,

    "q_lm_score" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(
        |    trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS token
        |  FROM documents),
        |tk AS (SELECT doc_id, token FROM toks WHERE token <> ''),
        |counts AS (SELECT token, count(*) AS tf FROM tk GROUP BY token),
        |tot AS (SELECT CAST(sum(tf) AS DOUBLE) AS T FROM counts),
        |vocab AS (SELECT token, tf FROM counts ORDER BY tf DESC, token LIMIT 2000),
        |lp AS (SELECT v.token, ln(CAST(v.tf AS DOUBLE) / t.T) AS lp FROM vocab v CROSS JOIN tot t),
        |scored AS (
        |  SELECT tk.doc_id, count(*) AS n_tokens,
        |    avg(coalesce(lp.lp, -ln(t.T))) AS lm_logprob
        |  FROM tk LEFT JOIN lp ON tk.token = lp.token CROSS JOIN tot t
        |  GROUP BY tk.doc_id)
        |SELECT d.doc_id, CAST(coalesce(s.n_tokens, 0) AS BIGINT) AS n_tokens,
        |  round(s.lm_logprob + 1e-9, 4) AS lm_logprob
        |FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    "q_ppl_buckets" ->
      // q_lm_score's model replay + per-language ntile over the rounded
      // score; token-free docs are never ranked (null bucket) so they
      // cannot shift a boundary
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(
        |    trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS token
        |  FROM documents),
        |tk AS (SELECT doc_id, token FROM toks WHERE token <> ''),
        |counts AS (SELECT token, count(*) AS tf FROM tk GROUP BY token),
        |tot AS (SELECT CAST(sum(tf) AS DOUBLE) AS T FROM counts),
        |vocab AS (SELECT token, tf FROM counts ORDER BY tf DESC, token LIMIT 2000),
        |lp AS (SELECT v.token, ln(CAST(v.tf AS DOUBLE) / t.T) AS lp FROM vocab v CROSS JOIN tot t),
        |scored AS (
        |  SELECT tk.doc_id, count(*) AS n_tokens,
        |    avg(coalesce(lp.lp, -ln(t.T))) AS lm_logprob
        |  FROM tk LEFT JOIN lp ON tk.token = lp.token CROSS JOIN tot t
        |  GROUP BY tk.doc_id),
        |r AS (SELECT d.doc_id, d.lang, s.n_tokens, s.lm_logprob
        |      FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id),
        |b AS (SELECT doc_id, ntile(3) OVER (
        |        PARTITION BY lang ORDER BY round(lm_logprob + 1e-9, 6) DESC, doc_id) AS ppl_bucket
        |      FROM r WHERE lm_logprob IS NOT NULL)
        |SELECT r.doc_id, r.lang, CAST(coalesce(r.n_tokens, 0) AS BIGINT) AS n_tokens,
        |  CAST(b.ppl_bucket AS INT) AS ppl_bucket
        |FROM r LEFT JOIN b ON r.doc_id = b.doc_id
        |ORDER BY r.doc_id""".stripMargin,

    "q_ppl_fit_apply_law" ->
      // full analytic replay of the fit/apply split: q_lm_score's model,
      // per-lang ntile, bucket floors = min rounded score of buckets 1..2,
      // apply = 1 + count(floors strictly above the score), tie minimum =
      // min ntile bucket over (lang, rounded score). law_ok composes the
      // two legal outcomes exactly as the engine does.
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(
        |    trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS token
        |  FROM documents),
        |tk AS (SELECT doc_id, token FROM toks WHERE token <> ''),
        |counts AS (SELECT token, count(*) AS tf FROM tk GROUP BY token),
        |tot AS (SELECT CAST(sum(tf) AS DOUBLE) AS T FROM counts),
        |vocab AS (SELECT token, tf FROM counts ORDER BY tf DESC, token LIMIT 2000),
        |lp AS (SELECT v.token, ln(CAST(v.tf AS DOUBLE) / t.T) AS lp FROM vocab v CROSS JOIN tot t),
        |scored AS (
        |  SELECT tk.doc_id, avg(coalesce(lp.lp, -ln(t.T))) AS lm_logprob
        |  FROM tk LEFT JOIN lp ON tk.token = lp.token CROSS JOIN tot t
        |  GROUP BY tk.doc_id),
        |rr AS (SELECT d.doc_id, d.lang, round(s.lm_logprob + 1e-9, 6) AS rv
        |       FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id),
        |b AS (SELECT doc_id, rv, ntile(3) OVER (
        |        PARTITION BY lang ORDER BY rv DESC, doc_id) AS bn
        |      FROM rr WHERE rv IS NOT NULL),
        |bounds AS (SELECT rr.lang, b.bn, min(b.rv) AS bv
        |           FROM b JOIN rr USING (doc_id) WHERE b.bn < 3 GROUP BY rr.lang, b.bn),
        |app AS (SELECT rr.doc_id,
        |          CASE WHEN rr.rv IS NULL THEN NULL
        |               WHEN NOT EXISTS (SELECT 1 FROM bounds WHERE bounds.lang = rr.lang) THEN NULL
        |               ELSE 1 + (SELECT count(*) FROM bounds
        |                         WHERE bounds.lang = rr.lang AND rr.rv < bounds.bv) END AS ba
        |        FROM rr),
        |mt AS (SELECT rr.lang, b.rv, min(b.bn) AS mb
        |       FROM b JOIN rr USING (doc_id) GROUP BY rr.lang, b.rv)
        |SELECT rr.doc_id, rr.lang,
        |  CAST(b.bn AS INT) AS bucket_ntile, CAST(app.ba AS INT) AS bucket_apply,
        |  ((app.ba IS NOT DISTINCT FROM b.bn) OR (app.ba IS NOT DISTINCT FROM mt.mb)) AS law_ok
        |FROM rr
        |LEFT JOIN b USING (doc_id)
        |JOIN app USING (doc_id)
        |LEFT JOIN mt ON mt.lang = rr.lang AND mt.rv = rr.rv
        |ORDER BY rr.doc_id""".stripMargin,

    "q_lm_bigram" ->
      // replays bigramScore's pinned float chain: ln(btf/ptf) for seen
      // bigrams, ln(0.4 * (tf/T)) backoff, ln(0.4 / T) OOV floor,
      // ln(tf/T) / -ln(T) at position 1. Null prev never equi-joins in
      // either engine, so position-1 rows fall through to the unigram arm.
      """WITH tok AS (
        |  SELECT doc_id, list_filter(string_split(
        |    trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
        |    x -> x <> '') AS ws
        |  FROM documents),
        |tk AS (SELECT doc_id, unnest(ws) AS token FROM tok),
        |counts AS (SELECT token, count(*) AS tf FROM tk GROUP BY token),
        |tot AS (SELECT CAST(sum(tf) AS DOUBLE) AS T FROM counts),
        |vocab AS (SELECT token, tf FROM counts ORDER BY tf DESC, token LIMIT 2000),
        |pairs AS (
        |  SELECT doc_id, pos, ws[pos] AS cur,
        |    CASE WHEN pos = 1 THEN NULL ELSE ws[pos - 1] END AS prev
        |  FROM (SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS pos FROM tok)),
        |bi AS (SELECT prev, cur, count(*) AS btf FROM pairs
        |       WHERE prev IS NOT NULL GROUP BY prev, cur),
        |bt AS (SELECT b.prev, b.cur, b.btf, vp.tf AS ptf
        |       FROM bi b JOIN vocab vp ON b.prev = vp.token
        |                 JOIN vocab vc ON b.cur = vc.token
        |       ORDER BY b.btf DESC, b.prev, b.cur LIMIT 3000),
        |scored AS (
        |  SELECT p.doc_id, count(*) AS n_tokens,
        |    avg(CASE
        |      WHEN bt.btf IS NOT NULL
        |        THEN ln(CAST(bt.btf AS DOUBLE) / CAST(bt.ptf AS DOUBLE))
        |      WHEN p.prev IS NULL THEN
        |        CASE WHEN v.tf IS NOT NULL
        |          THEN ln(CAST(v.tf AS DOUBLE) / t.T) ELSE -ln(t.T) END
        |      ELSE
        |        CASE WHEN v.tf IS NOT NULL
        |          THEN ln(0.4 * (CAST(v.tf AS DOUBLE) / t.T))
        |          ELSE ln(0.4 / t.T) END
        |    END) AS lp
        |  FROM pairs p
        |  LEFT JOIN bt ON p.prev = bt.prev AND p.cur = bt.cur
        |  LEFT JOIN vocab v ON p.cur = v.token
        |  CROSS JOIN tot t
        |  GROUP BY p.doc_id)
        |SELECT d.doc_id, CAST(coalesce(s.n_tokens, 0) AS BIGINT) AS n_tokens,
        |  round(s.lp + 1e-9, 4) AS lm2_logprob
        |FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    "q_shard_assign" ->
      """WITH h AS (
        |  SELECT doc_id, md5('42:' || CAST(doc_id AS VARCHAR)) AS hx FROM documents),
        |s AS (
        |  SELECT doc_id, hx,
        |    CAST(CAST('0x' || substr(hx, 1, 15) AS BIGINT) % 8 AS INT) AS shard
        |  FROM h)
        |SELECT doc_id, shard,
        |  CAST(row_number() OVER (PARTITION BY shard ORDER BY hx, doc_id) AS INT) AS pos
        |FROM s ORDER BY doc_id""".stripMargin,

    "q_image_dhash" ->
      // replays decode-side dHash from the pattern formula: 9×8 floor-grid
      // cells, integer Rec.601 luma, cross-multiplied average compare; bit
      // 63 is the BIGINT sign bit, so it enters as the min-long literal
      """WITH seeds AS (
        |  SELECT DISTINCT doc_id - (CASE WHEN doc_id % 50 = 1 THEN 1 ELSE 0 END) AS seed
        |  FROM documents),
        |px AS (
        |  SELECT s.seed, x.range AS x, y.range AS y
        |  FROM seeds s, range(0, 24) x, range(0, 16) y),
        |lum AS (
        |  SELECT seed, least((x*9)//24, 8) AS gx, (y*8)//16 AS gy,
        |    299*((7*x*x + 13*y*y + (5 + seed%97)*x*y + 31*seed) % 256)
        |    + 587*((3*x*x + 11*y*y + (7 + seed%89)*x*y + 17*seed) % 256)
        |    + 114*((5*x*x + 3*y*y + (11 + seed%83)*x*y + 23*seed) % 256) AS l
        |  FROM px),
        |cells AS (SELECT seed, gy, gx, sum(l) AS sm, count(*) AS c FROM lum GROUP BY 1, 2, 3),
        |bits AS (
        |  SELECT a.seed, a.gy*8 + a.gx AS idx,
        |    CASE WHEN b.sm*a.c > a.sm*b.c THEN 1 ELSE 0 END AS bit
        |  FROM cells a JOIN cells b ON b.seed = a.seed AND b.gy = a.gy AND b.gx = a.gx + 1
        |  WHERE a.gx < 8),
        |hashes AS (
        |  SELECT seed, CAST(sum(CASE WHEN bit = 1 THEN
        |      CASE WHEN idx = 63 THEN -9223372036854775808
        |           ELSE (1::BIGINT << CAST(idx AS INT)) END
        |      ELSE 0 END) AS BIGINT) AS dhash
        |  FROM bits GROUP BY seed)
        |SELECT d.doc_id, h.dhash
        |FROM documents d
        |JOIN hashes h ON h.seed = d.doc_id - (CASE WHEN d.doc_id % 50 = 1 THEN 1 ELSE 0 END)
        |ORDER BY d.doc_id""".stripMargin,

    "q_image_neardup" ->
      // hashes as in q_image_dhash; pairs = same-hash (hamming 0) plus
      // cross-hash pairs within Hamming 3, found via the same 16-bit block
      // pigeonhole the engine uses (no all-pairs scan in the oracle either)
      """WITH seeds AS (
        |  SELECT DISTINCT doc_id - (CASE WHEN doc_id % 50 = 1 THEN 1 ELSE 0 END) AS seed
        |  FROM documents),
        |px AS (
        |  SELECT s.seed, x.range AS x, y.range AS y
        |  FROM seeds s, range(0, 24) x, range(0, 16) y),
        |lum AS (
        |  SELECT seed, least((x*9)//24, 8) AS gx, (y*8)//16 AS gy,
        |    299*((7*x*x + 13*y*y + (5 + seed%97)*x*y + 31*seed) % 256)
        |    + 587*((3*x*x + 11*y*y + (7 + seed%89)*x*y + 17*seed) % 256)
        |    + 114*((5*x*x + 3*y*y + (11 + seed%83)*x*y + 23*seed) % 256) AS l
        |  FROM px),
        |cells AS (SELECT seed, gy, gx, sum(l) AS sm, count(*) AS c FROM lum GROUP BY 1, 2, 3),
        |bits AS (
        |  SELECT a.seed, a.gy*8 + a.gx AS idx,
        |    CASE WHEN b.sm*a.c > a.sm*b.c THEN 1 ELSE 0 END AS bit
        |  FROM cells a JOIN cells b ON b.seed = a.seed AND b.gy = a.gy AND b.gx = a.gx + 1
        |  WHERE a.gx < 8),
        |hashes AS (
        |  SELECT seed, CAST(sum(CASE WHEN bit = 1 THEN
        |      CASE WHEN idx = 63 THEN -9223372036854775808
        |           ELSE (1::BIGINT << CAST(idx AS INT)) END
        |      ELSE 0 END) AS BIGINT) AS dhash
        |  FROM bits GROUP BY seed),
        |doc_h AS (
        |  SELECT d.doc_id, h.dhash
        |  FROM documents d
        |  JOIN hashes h ON h.seed = d.doc_id - (CASE WHEN d.doc_id % 50 = 1 THEN 1 ELSE 0 END)),
        |hv AS (SELECT DISTINCT dhash FROM doc_h),
        |blocks AS (
        |  SELECT hv.dhash, t.range AS blk, (hv.dhash >> CAST(t.range*16 AS INT)) & 65535 AS v
        |  FROM hv, range(0, 4) t),
        |cand AS (
        |  SELECT DISTINCT a.dhash AS ha, b.dhash AS hb
        |  FROM blocks a JOIN blocks b ON a.blk = b.blk AND a.v = b.v AND a.dhash < b.dhash),
        |close_h AS (SELECT ha, hb, CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
        |            FROM cand WHERE bit_count(xor(ha, hb)) <= 3),
        |p0 AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(0 AS INT) AS hamming
        |  FROM doc_h a JOIN doc_h b ON a.dhash = b.dhash AND b.doc_id > a.doc_id),
        |px2 AS (
        |  SELECT least(a.doc_id, b.doc_id) AS id_a, greatest(a.doc_id, b.doc_id) AS id_b,
        |    c.hamming
        |  FROM close_h c
        |  JOIN doc_h a ON a.dhash = c.ha
        |  JOIN doc_h b ON b.dhash = c.hb)
        |SELECT id_a, id_b, hamming FROM p0
        |UNION ALL
        |SELECT id_a, id_b, hamming FROM px2
        |ORDER BY id_a, id_b""".stripMargin,

    "q_bm25" ->
      // full replay of training (N, avgdl, per-term df) and scoring; the
      // scalar arithmetic mirrors the engine's evaluation order term by
      // term, incl. the (1.2 + 1.0) literal ADD (a bare 2.2 literal is a
      // different double than IEEE 1.2+1.0); ranking is on the ROUNDED
      // score with doc_id tiebreak, so float summation order cannot flip it
      """WITH q(query_id, qtext) AS (VALUES
        |    (CAST(1 AS BIGINT), 'spark hash join'),
        |    (CAST(2 AS BIGINT), 'window window sort merge stream'),
        |    (CAST(3 AS BIGINT), 'vector scan zzzmissing')),
        |qt AS (SELECT DISTINCT query_id, token FROM (
        |    SELECT query_id, unnest(string_split(
        |      trim(regexp_replace(lower(qtext), '\s+', ' ', 'g')), ' ')) AS token
        |    FROM q) WHERE token <> ''),
        |tok AS (SELECT doc_id, list_filter(string_split(
        |    trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
        |    x -> x <> '') AS ws
        |  FROM documents),
        |dl AS (SELECT doc_id, coalesce(len(ws), 0) AS dl FROM tok),
        |stats AS (SELECT count(*) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
        |tk AS (SELECT doc_id, unnest(ws) AS token FROM tok),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM tk
        |       WHERE token IN (SELECT token FROM qt) GROUP BY doc_id, token),
        |dft AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
        |scored AS (
        |  SELECT qt.query_id, tf.doc_id,
        |    round(sum( ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5)) *
        |               (tf.tf * (1.2 + 1.0)) /
        |               (tf.tf + 1.2 * (1.0 - 0.75 + (0.75 * dl.dl) / s.avgdl)) ) + 1e-9, 6)
        |      AS bm25,
        |    count(*) AS n_terms
        |  FROM tf
        |  JOIN qt USING (token)
        |  JOIN dft d USING (token)
        |  JOIN dl USING (doc_id)
        |  CROSS JOIN stats s
        |  GROUP BY qt.query_id, tf.doc_id),
        |r AS (SELECT query_id, doc_id, bm25, CAST(n_terms AS BIGINT) AS n_terms,
        |        CAST(row_number() OVER (PARTITION BY query_id
        |          ORDER BY bm25 DESC, doc_id) AS INT) AS rank
        |      FROM scored)
        |SELECT query_id, doc_id, bm25, n_terms, rank
        |FROM r WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin
  )
}
