package graft.llm

import graft.{QueryModule, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-preparation operators (north-star extension set, SURVEY.md §2.3):
  * the steps between raw scraped text and training shards — deterministic
  * sampling, context-length chunking, cleaning, PII redaction,
  * decontamination, quality gating, and sequence packing. The per-document
  * passes are scan-local maps (no UDFs, no shuffle before the presentation
  * ORDER BY); the corpus-level ones (q87's eval join, q91's prefix sum)
  * shuffle only on bounded keys — never an all-pairs or single-task term.
  */
object CorpusQueries extends QueryModule {

  /** Deterministic hash-based sampling: keep a row iff a hex prefix of
    * md5(key) falls under the stratum's threshold. Unlike `sample()`/
    * `TABLESAMPLE` (seeded per-partition RNG — resplitting the input
    * changes the sample), the hash tie to the KEY makes the sample stable
    * across partitioning, engines, and reruns — the only reproducible way
    * to cut a training subset at scale.
    */
  def hashSample(key: Column, keepBelow: Column): Column =
    conv(substring(md5(key.cast("string").cast("binary")), 1, 4), 16, 10)
      .cast("long") < keepBelow

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Stratified deterministic sample: per-source rates (web-scale corpora
    // downsample common crawl hard, books lightly). 16^4 = 65536 hash
    // buckets; rate = threshold / 65536.
    "q64_hash_sample" -> { (s, dir) =>
      val rate = when(col("source") === "web", lit(8192L))     // 1/8
        .when(col("source") === "wiki", lit(32768L))           // 1/2
        .otherwise(lit(16384L))                                // 1/4
      Tables.t(s, dir, "documents")
        .filter(hashSample(col("doc_id"), rate))
        .select(col("doc_id"), col("source"), col("lang"))
        .orderBy("doc_id")
    },

    // Temperature-scaled domain mixture (the Pile / DoReMi-style source
    // reweighting): raise each source's share to alpha = 0.5 (sqrt
    // flattening — common sources downweighted, rare ones boosted),
    // normalize, convert the target mixture into a per-source keep rate
    // for a 1000-doc sample, and apply it with the same key-tied hash
    // sampler as q64 (partitioning-stable; rerunning or resharding a
    // 100 TB corpus cannot change the sample). Everything after the one
    // per-source count aggregation operates on a #sources-row table —
    // broadcast throughout. Cross-engine determinism: n^alpha / sum
    // normalization works on round(sqrt(n), 6) values (sqrt of an int
    // never sits on the round-half boundary: perfect squares are exact,
    // the rest are irrational) summed with the exact-decimal dsum, so
    // both engines derive bit-identical rates and the same kept set.
    "q93_domain_mixture" -> { (s, dir) =>
      val d = Tables.t(s, dir, "documents")
      val counts = d.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"))
        .withColumn("w", round(sqrt(col("n_docs").cast("double")), 6))
      val denom = counts.agg(graft.Fns.dsum(col("w")).as("w_sum"))
      val rates = counts.crossJoin(broadcast(denom))
        .withColumn("mix_w", col("w") / col("w_sum"))
        .withColumn("keep_rate",
          least(lit(1000.0) * col("mix_w") / col("n_docs").cast("double"),
            lit(1.0)))
      val kept = d
        .join(broadcast(rates.select(col("source"), col("keep_rate"))),
          "source")
        .filter(hashSample(col("doc_id"), col("keep_rate") * lit(65536.0)))
        .groupBy(col("source")).agg(count(lit(1)).as("n_kept"))
      rates.join(kept, Seq("source"), "left")
        .select(col("source"), col("n_docs"), col("mix_w"),
          col("keep_rate"), coalesce(col("n_kept"), lit(0L)).as("n_kept"))
        .orderBy("source")
    },

    // Context-length chunking: overlapping token windows (size 50, stride
    // 40) — the sequence-packing precursor. The token array materializes
    // once per document in the same projection as the generator; each
    // exploded row then slices the materialized attribute (slicing inside a
    // transform-lambda would re-evaluate the split per chunk —
    // CollapseProject inlines aliased expressions into HOF lambdas).
    "q65_doc_chunks" -> { (s, dir) =>
      val chunkSize = 50
      val stride = 40
      val tok = Tokens.words(col("text"))
      Tables.t(s, dir, "documents")
        .select(col("doc_id"), tok.as("tok"),
          posexplode(sequence(lit(1), greatest(size(tok) - (chunkSize - stride),
            lit(1)), lit(stride))).as(Seq("chunk_id", "start")))
        .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
          size(slice(col("tok"), col("start"), lit(chunkSize)))
            .cast("long").as("n_tokens"),
          array_join(slice(col("tok"), col("start"), lit(chunkSize)), " ")
            .as("chunk_text"))
        .orderBy("doc_id", "chunk_id")
    },

    // Sequence packing (concat-and-chunk): a pretraining pipeline
    // concatenates documents in a canonical order (one EOS separator
    // each) and slices the token stream into fixed-length training
    // sequences; this reports each document's place in that stream
    // (start offset, first/last sequence index). The offsets are a
    // GLOBAL prefix sum — the naive spelling (one unpartitioned window)
    // serializes the corpus through a single task, so it runs as the
    // textbook two-phase distributed scan: (1) cumsum inside
    // order-respecting buckets, (2) prefix-sum the bucket TOTALS (rows =
    // bucket count, independent of corpus size — the only place a
    // single-partition window ever sees), (3) broadcast the bucket
    // offsets back. Output is identical to the single-window spelling —
    // the oracle states exactly that spelling. Buckets here range
    // doc_id directly; at 100 TB the boundaries come from a sampled
    // range partitioner (Spark's own orderBy machinery) — same plan.
    "q91_sequence_pack" -> { (s, dir) =>
      val seqLen = 512L
      val bucketWidth = 500L
      val d = Tables.t(s, dir, "documents")
        .select(col("doc_id"),
          (size(Tokens.words(col("text"))) + 1).cast("long").as("n")) // +1 EOS
        .withColumn("bucket", expr(s"doc_id div $bucketWidth"))
      val wLocal = Window.partitionBy(col("bucket")).orderBy(col("doc_id"))
      val local = d.withColumn("local_cume", sum(col("n")).over(wLocal))
      val wBuckets = Window.orderBy(col("bucket"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val offsets = d.groupBy(col("bucket"))
        .agg(sum(col("n")).as("bucket_total"))
        .withColumn("bucket_offset",
          coalesce(sum(col("bucket_total")).over(wBuckets), lit(0L)))
        .select(col("bucket"), col("bucket_offset"))
      local.join(broadcast(offsets), "bucket")
        .withColumn("cume", col("bucket_offset") + col("local_cume"))
        .select(col("doc_id"), col("n").as("n_tokens"),
          (col("cume") - col("n")).as("start_offset"),
          expr(s"(cume - n) div $seqLen").as("first_seq"),
          expr(s"(cume - 1) div $seqLen").as("last_seq"))
        .orderBy("doc_id")
    },

    // The BPE merge statistic (Sennrich et al. 2016): corpus-weighted
    // adjacent character-pair counts — the quantity whose argmax IS the
    // next merge decision of BPE vocabulary training (q68 covers the
    // pre-tokenizer in the same family). Scale shape: pair generation
    // runs over the DISTINCT vocabulary only (pair count = Σ over
    // distinct words of word_freq × in-word occurrences), so the
    // per-character work scales with vocabulary size, not corpus size —
    // the corpus is touched exactly once, by the word-frequency count.
    "q95_bpe_merge_stats" -> { (s, dir) =>
      val freqs = Tables.t(s, dir, "documents")
        .select(explode(Tokens.words(col("text"))).as("word"))
        .filter(length(col("word")) >= 2)
        .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      val pair = freqs
        .select(col("freq"), explode(transform(
          sequence(lit(1), length(col("word")) - 1),
          (i: Column) => col("word").substr(i, lit(2)))).as("pair"))
      pair.groupBy(col("pair"))
        .agg(sum(col("freq")).as("pair_count"))
        .orderBy(col("pair_count").desc, col("pair").asc)
        .limit(20)
    },

    // The ENCODE consumer of q301's trained merges — see bpeEncode
    // below: the final segmentation of every vocabulary word after the
    // same k merges, with piece counts (the fertility denominator).
    "q310_bpe_encode" -> { (s, dir) =>
      val freqs = Tables.t(s, dir, "documents")
        .select(explode(Tokens.words(col("text"))).as("word"))
        .filter(length(col("word")) >= 2)
        .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      bpeEncode(freqs, BpeRounds)
    },

    // The full iterative BPE trainer — see bpeTrain below. q95 computes
    // round 1's statistic; this applies the argmax merge and re-counts,
    // k times, producing the learned merge table (the artifact tokenizer
    // training actually ships).
    "q301_bpe_train" -> { (s, dir) =>
      val freqs = Tables.t(s, dir, "documents")
        .select(explode(Tokens.words(col("text"))).as("word"))
        .filter(length(col("word")) >= 2)
        .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      bpeTrain(freqs, BpeRounds)
    },

    // Gopher repetition signals at n-gram granularity — the companions
    // of q88's top-token share (Rae et al. 2021 §A1.1 measures
    // top-n-gram share and duplicate-n-gram fraction for n up to 10;
    // bigrams here): all four underlying counts come from the fused
    // NGramStats expression in one scan-local hash pass per document.
    // Subexpression elimination evaluates the struct once for all five
    // output references (the q72 precedent). Fractions are single IEEE
    // divisions of exactly-representable ints — bit-stable cross-engine.
    "q92_repetition_ngrams" -> { (s, dir) =>
      val st = graft.functions.NGramStats.ngramStats(col("text"), 2)
      val total = st.getField("total")
      val top = st.getField("top")
      val singles = st.getField("singletons")
      Tables.t(s, dir, "documents")
        .filter(total > 0) // docs with < 2 tokens have no bigrams
        .select(
          col("doc_id"),
          total.as("n_bigrams"),
          st.getField("distinct").as("n_distinct"),
          top.as("top_bigram_count"),
          (top.cast("double") / total.cast("double"))
            .as("top_bigram_frac"),
          ((total - singles).cast("double") / total.cast("double"))
            .as("dup_bigram_frac"))
        .orderBy("doc_id")
    },

    // Cleaning: strip markup-ish tags, collapse whitespace, trim, lowercase
    // — the canonical normalize pass before dedup/tokenization. Pure
    // codegen'd string expressions; the patterns stay in the common
    // Java-regex/RE2 subset — whitespace is the EXPLICIT class
    // [ \t\n\f\r], because \s itself diverges (Java includes U+000B
    // vertical tab, RE2 does not).
    "q66_clean_text" -> { (s, dir) =>
      val collapsed = Tokens.untagged(col("text"))
      Tables.t(s, dir, "documents")
        .select(col("doc_id"),
          Tokens.clean(col("text")).as("clean_text"),
          length(collapsed).cast("long").as("clean_chars"),
          (length(col("text")) - length(collapsed)).cast("long")
            .as("removed_chars"))
        .orderBy("doc_id")
    },

    // BPE-ish pre-tokenization: the GPT-2-style pre-tokenizer regex (minus
    // the apostrophe contractions — absent from the fixture) splits text
    // into letter runs, digit runs, punctuation runs, and whitespace, each
    // with its leading space attached. Token counting over THIS split —
    // rather than plain whitespace (q53) — is what matches how a trained
    // BPE vocabulary consumes text. The pattern stays in the shared
    // Java-regex/RE2 subset so the oracle runs it verbatim — whitespace as
    // the explicit [ \t\n\f\r] class (\s diverges on U+000B between
    // engines).
    "q68_bpe_tokens" -> { (s, dir) =>
      val pat = " ?\\p{L}+| ?\\p{N}+| ?[^ \\t\\n\\f\\r\\p{L}\\p{N}]+" +
        "|[ \\t\\n\\f\\r]+"
      Tables.t(s, dir, "documents")
        .select(col("source"),
          explode(regexp_extract_all(col("text"), lit(pat), lit(0)))
            .as("token"))
        .groupBy(col("source"), col("token"))
        .agg(count(lit(1)).as("n"))
        .orderBy("source", "token")
    },

    // Inverted-index build — the retrieval-side artifact of a corpus run
    // (BM25 search, RAG stores, contamination lookups all start here):
    // per index term its document frequency, total term frequency, and
    // the head of its postings list (the 10 lowest doc_ids). Terms below
    // df = 5 are pruned (the min-df threshold every indexer applies).
    // Scale shape: per-(token, doc) term frequencies first (one shuffle),
    // then a token-partitioned window takes the postings HEAD with
    // bounded state — never a collect_list of a stopword's full postings
    // (billions of rows in one aggregation buffer at 100 TB); the final
    // per-token aggregation rides the window's partitioning without a
    // new exchange. Postings serialize as CSV (the driver's hash compare
    // takes no raw arrays).
    "q98_postings_index" -> { (s, dir) =>
      val tfd = Tables.t(s, dir, "documents")
        .select(col("doc_id"), explode(Tokens.words(col("text"))).as("token"))
        .groupBy(col("token"), col("doc_id"))
        .agg(count(lit(1)).as("tf"))
      val w = Window.partitionBy(col("token")).orderBy(col("doc_id").asc)
      tfd
        .withColumn("rn", row_number().over(w))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("df"),
          sum(col("tf")).as("tf_total"),
          array_join(expr("transform(array_sort(" +
            "collect_list(CASE WHEN rn <= 10 THEN struct(doc_id) END))," +
            " x -> CAST(x.doc_id AS STRING))"), ",").as("postings_head"))
        .filter(col("df") >= 5)
        .orderBy("token")
    },

    // The end-to-end corpus-prep pipeline in ONE query: clean → quality
    // gate → exact-dedup (keep the canonical doc per cleaned-content hash)
    // → context-length chunking. This is the composition a real
    // training-data run executes; each stage is the already-verified
    // operator (q66, q33's scoring, q31's canonical rule, q65's chunker)
    // and the whole chain stays one scan + one dedup shuffle + one
    // generator — no stage materializes an intermediate table.
    "q85_corpus_pipeline" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val chunkSize = 50
      val stride = 40
      val cleaned = Tables.t(s, dir, "documents")
        .select(col("doc_id"), Tokens.clean(col("text")).as("clean_text"))
      val tok = Tokens.words(col("clean_text"))
      val w = Window.partitionBy(col("h")).orderBy(col("doc_id"))
      val canonical = cleaned
        .filter(size(tok) >= 10 && Tokens.gate(tok).quality >= 0.6)
        .withColumn("h", md5(col("clean_text").cast("binary")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
      canonical
        .select(col("doc_id"), tok.as("tok"),
          posexplode(sequence(lit(1),
            greatest(size(tok) - (chunkSize - stride), lit(1)),
            lit(stride))).as(Seq("chunk_id", "start")))
        .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
          size(slice(col("tok"), col("start"), lit(chunkSize)))
            .cast("long").as("n_tokens"),
          array_join(slice(col("tok"), col("start"), lit(chunkSize)), " ")
            .as("chunk_text"))
        .orderBy("doc_id", "chunk_id")
    },

    // PII redaction: emails and phone numbers replaced with typed tokens.
    // The fixture corpus carries no PII, so the query plants a synthetic
    // contact line per document and redacts it — the assertion is that the
    // regexes fire exactly and the surrounding text survives byte-for-byte.
    "q67_pii_redact" -> { (s, dir) =>
      val withPii = concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com or 555-867-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
      val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val phoneRe = "\\b\\d{3}-\\d{3}-\\d{4}\\b"
      val redacted = regexp_replace(
        regexp_replace(withPii, emailRe, "[EMAIL]"), phoneRe, "[PHONE]")
      Tables.t(s, dir, "documents")
        .select(col("doc_id"), redacted.as("redacted"),
          (length(withPii) - length(redacted)).cast("long").as("delta_chars"))
        .orderBy("doc_id")
    },

    // Corpus-level span dedup (the paragraph/line dedup of C4 and CCNet,
    // re-expressed over the fixture's single-line documents as
    // non-overlapping 20-token spans): every span occurring more than
    // once across the WHOLE corpus keeps only its first occurrence
    // (lowest doc_id, then offset) and later copies are dropped; each
    // document is rebuilt from its surviving spans. This is the dedup
    // granularity BETWEEN exact-doc (q31) and shingle near-dup (q50) —
    // boilerplate removal. Scale shape: spans shuffle as xxhash64 keys
    // (fixed width; first-occurrence ranking is hash-invariant, the
    // oracle partitions by the span STRING), one window + one per-doc
    // aggregation — no all-pairs term, and per-span state is one row.
    "q96_span_dedup" -> { (s, dir) =>
      val span = 20
      val tok = Tokens.words(col("text"))
      val units = Tables.t(s, dir, "documents")
        // materialize tok with the generator, slice in the NEXT projection
        // (slicing inside a lambda re-evaluates the split per span)
        .select(col("doc_id"), tok.as("tok"),
          explode(sequence(lit(1), size(tok), lit(span))).as("st"))
        .select(col("doc_id"), col("st"),
          array_join(slice(col("tok"), col("st"), lit(span)), " ").as("unit"))
      val w = Window.partitionBy(col("h"))
        .orderBy(col("doc_id").asc, col("st").asc)
      units
        .withColumn("h", xxhash64(col("unit")))
        .withColumn("rn", row_number().over(w))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_spans"),
          count_if(col("rn") > 1).as("n_dropped"),
          array_join(expr("transform(array_sort(" +
            "collect_list(CASE WHEN rn = 1 THEN struct(st, unit) END))," +
            " x -> x.unit)"), " ").as("clean_text"))
        .orderBy("doc_id")
    },

    // Benchmark decontamination — the train/eval overlap sweep every
    // serious training-data pipeline runs before a model sees the data:
    // any training doc sharing a 5-token shingle with the held-out set
    // (source 'src0' plays the benchmark) is reported with its overlap
    // count. Shingles join as 64-bit hashes (fixed-width shuffle keys;
    // the oracle states the same join over shingle STRINGS — counts are
    // hash-invariant). Scale shape: distinct (doc, shingle) postings,
    // one equi-join against the (small, broadcastable) eval shingle set,
    // one count aggregation — never an all-pairs term; the eval side of
    // a real pipeline is benchmarks, i.e. tiny by construction.
    "q87_decontaminate" -> { (s, dir) =>
      // shingle sets via the fused ShingleHashes expression: one
      // scan-local pass per document (bit-equal to the HOF
      // slice/join/hash spelling, FusedExprPropertiesSpec); docs with
      // < 5 tokens yield an empty set and so no postings — no filter
      // needed
      val sh = graft.functions.ShingleHashes.shingleHashes(col("text"), 5)
      val docs = Tables.t(s, dir, "documents")
      val evalSh = docs.filter(col("source") === "src0")
        .select(explode(sh).as("h")).distinct()
      docs.filter(col("source") =!= "src0")
        .select(col("doc_id"), explode(sh).as("h"))
        .join(evalSh, "h")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shared_shingles"))
        .orderBy("doc_id")
    },

    // Decontamination at the 100 TB shape: q87 reports overlap counts by
    // shuffling EVERY training posting into the eval join; here the join
    // is pre-filtered by a Bloom filter over the eval shingle set, so the
    // shuffle carries only candidate postings (true overlaps + the
    // filter's ~1% false positives) and the clean bulk of the corpus is
    // dropped scan-locally — the same plumbing Spark's own runtime
    // bloom-join filter injects, spelled explicitly. The exact semi-join
    // VERIFY after the filter removes false positives, so the output (the
    // decontaminated corpus) is byte-identical to the no-bloom spelling —
    // which is exactly what the oracle states. The filter itself is built
    // distributed (`bloom_filter_agg`, one pass over eval postings) and
    // ships to executors as a 64 KB literal — the classic build-small/
    // probe-big asymmetry: benchmarks are tiny by construction.
    "q97_bloom_decontaminate" -> { (s, dir) =>
      import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
      import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
      import org.apache.spark.sql.graftbridge.ExprBridge
      import org.apache.spark.sql.types.BinaryType
      val sh = graft.functions.ShingleHashes.shingleHashes(col("text"), 5)
      val docs = Tables.t(s, dir, "documents")
      val evalSh = docs.filter(col("source") === "src0")
        .select(explode(sh).as("h")).distinct()
      // one distributed aggregation pass (the Catalyst aggregate behind
      // Spark's own runtime bloom joins — not SQL-registered, so built
      // directly); the resulting sketch is a 64 KB binary — the
      // single-row head() is the same driver hop a broadcast build side
      // takes
      val bloomAgg = new BloomFilterAggregate(ExprBridge.expression(col("h")),
        Literal(65536L), Literal(524288L)).toAggregateExpression()
      val bf = evalSh
        .agg(ExprBridge.column(bloomAgg).as("bf"))
        .head().getAs[Array[Byte]](0)
      val mightContain = ExprBridge.column(BloomFilterMightContain(
        Literal(bf, BinaryType), ExprBridge.expression(col("h"))))
      val candidates = docs.filter(col("source") =!= "src0")
        .select(col("doc_id"), explode(sh).as("h"))
        .filter(mightContain)                       // scan-local ~99% drop
      val contaminated = candidates.join(evalSh, "h") // exact verify
        .select(col("doc_id")).distinct()
      docs.filter(col("source") =!= "src0")
        .join(contaminated, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")
    },

    // Gopher-style quality gate (Rae et al. 2021 §A1.1 heuristics,
    // re-expressed over the fixture): word count bounds, mean word
    // length, alphabetic-word fraction, stopword fraction, and the
    // repetition signal (most-frequent-token share). All scan-local
    // arithmetic over exact integer counts — the ratios are single
    // IEEE divisions of exactly-representable ints, so they hash-match
    // the oracle bit-for-bit. One map over a 100 TB scan; the pass flag
    // is the conjunction a corpus filter would apply. The repetition
    // numerator is the `top` field of the fused NGramStats expression at
    // n = 1 — one linear hash-count pass per document where the HOF
    // spelling (filter-per-distinct-token) is O(L·D), quadratic on
    // exactly the long documents a 100 TB sweep is full of.
    "q88_quality_rules" -> { (s, dir) =>
      val tok = Tokens.words(col("text"))
      val g = Tokens.gate(tok)
      val n = g.nTok
      val sumLen = aggregate(tok, lit(0L),
        (acc: Column, t: Column) => acc + length(t).cast("long"))
      val meanLen = sumLen.cast("double") / n
      val alphaFrac = size(filter(tok,
        (t: Column) => t.rlike("[a-z]"))).cast("double") / n
      val stopFrac = g.stopRatio
      val topTokFrac = graft.functions.NGramStats.ngramStats(col("text"), 1)
        .getField("top").cast("double") / n
      val pass = size(tok).between(50, 100000) &&
        meanLen.between(3.0, 10.0) && alphaFrac >= lit(0.8) &&
        topTokFrac <= lit(0.2)
      Tables.t(s, dir, "documents").select(
        col("doc_id"), size(tok).cast("long").as("n_words"),
        meanLen.as("mean_word_len"), alphaFrac.as("alpha_frac"),
        stopFrac.as("stop_frac"), topTokFrac.as("top_tok_frac"),
        pass.as("pass_gopher"))
        .orderBy("doc_id")
    },

    // BM25 ranked retrieval (Robertson/Spärck Jones; k1=1.2, b=0.75) —
    // the query-side consumer of the q98 inverted index: score every
    // document against a fixed 3-term query and return the top 20. The
    // token stream is filtered to the query terms BEFORE any shuffle, so
    // the aggregations move only matching postings (at 100 TB the postings
    // come straight from the prebuilt index; corpus stats n_docs/avgdl are
    // index metadata — here both derive from one extra aggregate-only scan
    // and ship as a broadcast 1-row table). Cross-engine determinism: the
    // per-(doc,term) score is pure scalar double math (constants spelled as
    // exact literals — 2.2, 0.25 — so neither engine constant-folds
    // differently), summed per doc with the exact-decimal dsum; ties on the
    // rounded score break by doc_id.
    "q100_bm25_rank" -> { (s, dir) =>
      val toks = Tokens.words(col("text"))
      val tok = Tables.t(s, dir, "documents")
        .select(col("doc_id"), size(toks).cast("long").as("dl"),
          explode(toks).as("token"))
        .filter(col("token").isInCollection(Seq("join", "filter", "vector")))
      val tf = tok.groupBy(col("doc_id"), col("token"))
        .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
      val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
      val stats = Tables.t(s, dir, "documents")
        .select(size(Tokens.words(col("text"))).cast("long").as("dl0"))
        .agg(count(lit(1)).as("n_docs"), sum(col("dl0")).as("tok_total"))
      val avgdl = col("tok_total").cast("double") / col("n_docs").cast("double")
      val idf = log((col("n_docs").cast("double") - col("df").cast("double")
        + lit(0.5)) / (col("df").cast("double") + lit(0.5)) + lit(1.0))
      val score = idf * (col("tf").cast("double") * lit(2.2)) /
        (col("tf").cast("double") +
          lit(1.2) * (lit(0.25) + lit(0.75) * col("dl").cast("double") / avgdl))
      tf.join(broadcast(df), "token")
        .crossJoin(broadcast(stats))
        .withColumn("score", score)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_terms"), graft.Fns.dsum(col("score")).as("bm25"))
        .orderBy(col("bm25").desc, col("doc_id").asc)
        .limit(20)
    },

    // Deterministic train/val/test split (80/10/10): the md5 bucket is
    // tied to the doc KEY (same rationale as q64's sampler — resharding,
    // rerunning, or growing the corpus never moves a document between
    // splits, which is what keeps eval sets stable across pipeline runs).
    // Entirely scan-local; the only shuffle is the presentation sort.
    "q103_train_split" -> { (s, dir) =>
      val bucket = conv(substring(
        md5(col("doc_id").cast("string").cast("binary")), 1, 4), 16, 10)
        .cast("long") % 10
      Tables.t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          when(bucket < 8, lit("train"))
            .when(bucket === 8, lit("val"))
            .otherwise(lit("test")).as("split"))
        .orderBy("doc_id")
    },

    // Per-source distribution drift: KL(P_source ‖ P_corpus) over unigram
    // distributions — the corpus-analytics score that flags a domain
    // whose token mix diverges from the pool (contamination, scraper
    // drift, template spam). All counts are exact int64; the per-token
    // summand p_s·ln(p_s/p_c) is one fixed tree of IEEE ops; the
    // per-source sum uses the scale-18 exact-decimal dsum18 (summands sit
    // at 1e-5..1e-9 — the 6-decimal dsum would erase them). Shuffles are
    // vocabulary-keyed: (source, token) counts, then token marginals —
    // never corpus-row-sized; the marginals join is vocab × sources.
    "q106_source_divergence" -> { (s, dir) =>
      val cs = Tables.t(s, dir, "documents")
        .select(col("source"), explode(Tokens.words(col("text"))).as("t"))
        .groupBy(col("source"), col("t")).agg(count(lit(1)).as("c_st"))
      // token marginal as a window over the (source, token) counts — one
      // repartition instead of an aggregate + equi-join; the per-source
      // totals are #sources rows, and the corpus total is an unpartitioned
      // window over THAT tiny table (20 rows through one partition — never
      // a second pass over the counts), so the whole stats side is one
      // broadcast equi-join
      val wT = Window.partitionBy(col("t"))
      val wc = cs.withColumn("c_t", sum(col("c_st")).over(wT))
      val ns = cs.groupBy(col("source")).agg(sum(col("c_st")).as("n_s"))
        .withColumn("n", sum(col("n_s")).over(Window.partitionBy()))
      val pS = col("c_st").cast("double") / col("n_s").cast("double")
      val pC = col("c_t").cast("double") / col("n").cast("double")
      wc.join(broadcast(ns), "source")
        .select(col("source"), (pS * log(pS / pC)).as("summand"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_terms"),
          graft.Fns.dsum18(col("summand")).as("kl_div"))
        .orderBy("source")
    },

    // Per-source distinctive terms by smoothed log-odds vs the rest of
    // the corpus (Monroe et al.'s "Fightin' Words" statistic, the
    // keyword-extraction dual of q106's drift score): which tokens make
    // this domain THIS domain. All counts exact int64 (marginals via the
    // q106 window trick), the score one fixed tree of IEEE ops; ranking
    // uses the UNROUNDED score so both engines order identically, ties
    // break by term. Top 5 per source through a source-partitioned window
    // — bounded state, vocabulary-sized shuffles only.
    "q112_distinctive_terms" -> { (s, dir) =>
      val cs = Tables.t(s, dir, "documents")
        .select(col("source"), explode(Tokens.words(col("text"))).as("t"))
        .groupBy(col("source"), col("t")).agg(count(lit(1)).as("c_st"))
      val wT = Window.partitionBy(col("t"))
      val wc = cs.withColumn("c_t", sum(col("c_st")).over(wT))
      val ns = cs.groupBy(col("source")).agg(sum(col("c_st")).as("n_s"))
        .withColumn("n", sum(col("n_s")).over(Window.partitionBy()))
      val inRate = (col("c_st") + 1).cast("double") /
        (col("n_s") - col("c_st") + 1).cast("double")
      val outRate = (col("c_t") - col("c_st") + 1).cast("double") /
        (col("n") - col("n_s") - col("c_t") + col("c_st") + 1).cast("double")
      val score = log(inRate) - log(outRate)
      val wRank = Window.partitionBy(col("source"))
        .orderBy(col("score").desc, col("t").asc)
      wc.join(broadcast(ns), "source")
        .withColumn("score", score)
        .withColumn("rnk", row_number().over(wRank))
        .filter(col("rnk") <= 5)
        .select(col("source"), col("t").as("term"), col("c_st"),
          round(col("score"), 4).as("log_odds"), col("rnk"))
        .orderBy("source", "rnk")
    },

    // Quality-weighted importance sampling (the FineWeb/DCLM move: keep
    // probability rises with document quality instead of q64's flat
    // per-source rates). Keep P = quality² — squaring is temperature-2
    // sharpening: a 0.9-quality doc keeps at 81%, a 0.5 doc at 25%. The
    // accept test ties the same md5 bucket as q64 to the KEY, so the
    // sample is identical under any partitioning, engine, or rerun —
    // sample() / rand() would re-roll per split. Fully scan-local (the
    // quality tree and the hash test are per-row); the only shuffle is
    // the presentation sort. quality² * 65536 is one fixed IEEE tree
    // over exact-int-derived doubles, so both engines admit the same set.
    "q115_importance_sample" -> { (s, dir) =>
      val quality = Tokens.gate(Tokens.words(col("text"))).quality
      Tables.t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          round(quality, 4).as("quality"),
          hashSample(col("doc_id"),
            quality * quality * lit(65536.0)).as("keep"))
        .filter(col("keep"))
        .drop("keep")
        .orderBy("doc_id")
    },

    // Per-document contamination SCORE against the eval set — q87 reports
    // the shared-shingle count for overlapping docs only; training-set
    // curation needs the FRACTION for every candidate doc (zero included)
    // so a threshold can gate borderline paraphrases, not just verbatim
    // hits. Same fused ShingleHashes postings as q87: the eval side is
    // benchmark-sized (broadcast at any corpus scale), the candidate side
    // explodes scan-locally, and the fraction is an exact int ratio —
    // identical IEEE division in both engines, 4-decimal round safe.
    "q116_eval_overlap" -> { (s, dir) =>
      val sh = graft.functions.ShingleHashes.shingleHashes(col("text"), 5)
      val docs = Tables.t(s, dir, "documents")
      val evalSh = docs.filter(col("source") === "src0")
        .select(explode(sh).as("h")).distinct()
        .withColumn("hit", lit(1))
      // one candidate scan: n_shingles rides the exploded postings (every
      // size>0 doc keeps >= 1 row through the LEFT broadcast probe, so
      // zero-overlap docs survive to the aggregation with null hits)
      docs.filter(col("source") =!= "src0")
        .select(col("doc_id"), sh.as("sh"))
        .filter(size(col("sh")) > 0)
        .select(col("doc_id"), size(col("sh")).cast("long").as("n_shingles"),
          explode(col("sh")).as("h"))
        .join(broadcast(evalSh), Seq("h"), "left")
        .groupBy(col("doc_id"))
        .agg(max(col("n_shingles")).as("n_shingles"),
          count(col("hit")).as("n_overlap"))
        .select(col("doc_id"), col("n_shingles"), col("n_overlap"),
          round(col("n_overlap").cast("double") /
            col("n_shingles").cast("double"), 4).as("contamination"))
        .orderBy("doc_id")
    },

    // Exact-quota stratified sample — eval-set construction: take EXACTLY
    // min(quota, n_s) docs per stratum, not a rate-based expected count
    // (q64/q93 sample proportionally; a held-out set needs hard quotas).
    // Determinism is the q64 key-tied recipe lifted to an ORDERING:
    // rank docs per source by md5 of a salted key — partitioning-stable,
    // rerun-stable, engine-identical (both engines order the same
    // lowercase hex strings). Scale shape: one rank window per stratum;
    // strata counts are corpus metadata (thousands at most), and the
    // 100 TB variant prefilters with the hash-threshold trick (keep
    // h < ~3x quota/n_s before ranking) so the window input is
    // quota-sized, not stratum-sized — the window itself is unchanged.
    "q120_stratified_sample" -> { (s, dir) =>
      val quota = 10
      val w = Window.partitionBy(col("source"))
        .orderBy(md5(concat(lit("q120:"), col("doc_id").cast("string"))
          .cast("binary")).asc, col("doc_id").asc)
      Tables.t(s, dir, "documents")
        .withColumn("sample_rank", row_number().over(w).cast("long"))
        .filter(col("sample_rank") <= quota)
        .select(col("source"), col("doc_id"), col("sample_rank"))
        .orderBy("source", "doc_id")
    },

    // Per-document n-gram novelty — the inverse of contamination: what
    // fraction of a doc's trigram shingles appears in NO other document.
    // Low novelty = boilerplate/template text (the signal C4-style rules
    // approximate with line frequency); high = genuinely novel content.
    // Scale shape: one distinct-postings explode, one count aggregation
    // on the 64-bit shingle key, one join back — q87's decontamination
    // plumbing pointed at the corpus itself. Counts are hash-invariant
    // (the oracle states the same join over shingle STRINGS); the
    // novelty fraction is an exact int ratio.
    "q121_ngram_novelty" -> { (s, dir) =>
      val sh = array_distinct(
        graft.functions.ShingleHashes.shingleHashes(col("text"), 3))
      val post = Tables.t(s, dir, "documents")
        .select(col("doc_id"), sh.as("sh"))
        .filter(size(col("sh")) > 0)
        .select(col("doc_id"), explode(col("sh")).as("h"))
      val shared = post.groupBy(col("h"))
        .agg(count(lit(1)).as("n_docs"))
        .filter(col("n_docs") > 1)
      post.join(shared, Seq("h"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shingles"),
          count(col("n_docs")).as("n_shared"))
        .select(col("doc_id"), col("n_shingles"), col("n_shared"),
          round(lit(1.0) - col("n_shared").cast("double") /
            col("n_shingles").cast("double"), 4).as("novelty"))
        .orderBy("doc_id")
    },

    // Cross-source duplication matrix — the corpus-level diagnostic run
    // before mixing sources into a training set: for every source pair,
    // how many distinct 5-token shingles they share (a source that
    // heavily overlaps another adds tokens, not information, and its
    // mixture weight should account for it). Scale shape: one distinct
    // (source, shingle-hash) postings build, one self-equi-join on the
    // hash whose fan-out is bounded by #sources per shingle (<= #sources,
    // a constant), one pair-count aggregation — never a doc-level or
    // all-pairs term.
    "q123_source_overlap" -> { (s, dir) =>
      val sh = array_distinct(
        graft.functions.ShingleHashes.shingleHashes(col("text"), 5))
      val post = Tables.t(s, dir, "documents")
        .select(col("source"), explode(sh).as("h"))
        .distinct()
      post.select(col("source").as("source_a"), col("h"))
        .join(post.select(col("source").as("source_b"), col("h")), "h")
        .filter(col("source_a") < col("source_b"))
        .groupBy(col("source_a"), col("source_b"))
        .agg(count(lit(1)).as("n_shared_shingles"))
        .orderBy("source_a", "source_b")
    },

    // KMV (k-minimum-values / theta-sketch) set-operation estimates
    // (Bar-Yossef et al. 2002; the DataSketches theta-sketch shape):
    // distinct-INTERSECTION cardinality between sources from two
    // fixed-size sketches — the one set operation the HLL family cannot
    // do without inclusion-exclusion error blowup (q262's documented
    // limit). Each source keeps its K = 256 smallest 48-bit md5 values
    // over the distinct bigram universe; for a pair, the K smallest of
    // the sketch union give θ (the k-th value), union_est =
    // (K−1)·2⁴⁸/θ, and the fraction ρ of those K present in BOTH
    // sketches gives intersection_est = ρ·union_est. Hashing is
    // md5-derived (the q254/q255 cross-engine idiom), so the oracle
    // recomputes the ENTIRE estimator hash-for-hash — sketches,
    // θ, estimates — and additionally asserts the 4σ envelope
    // |est − exact| ≤ 4·U/√K against the exact intersection. When a
    // pair's sketch union has fewer than K values both sketches were
    // exhaustive and the estimate is declared exact (kk branch). Scale
    // shape: the postings build is one distinct, sketches are one
    // source-keyed window (state K per source — FIXED at any corpus
    // size; 100 TB sources meet in 256-row frames), the estimator runs
    // on #pairs × K rows, and the exact grade is q123's bounded-fan-out
    // equi-join, riding the same checkpointed postings.
    "q288_kmv_intersection" -> { (s, dir) =>
      val K = 256
      val tok = Tokens.words(col("text"))
      val grams = Tables.t(s, dir, "documents")
        // materialize tok with the generator, slice in the NEXT
        // projection (the q96 recipe — a lambda over split(text) would
        // re-split per bigram); sequence(1, n) needs n >= 1 (it counts
        // DOWN otherwise), hence the >= 2 token guard
        .select(col("source"), Tokens.words(col("text")).as("tok"))
        .filter(size(col("tok")) >= 2)
        .select(col("source"), explode(expr(
          "transform(sequence(1, size(tok) - 1)," +
            " i -> array_join(slice(tok, i, 2), ' '))")).as("g"))
        .distinct()
        .transform(graft.Checkpoints.ckpt) // feeds BOTH the sketch and the exact grade
      val hashed = grams.select(col("source"),
          conv(substring(md5(col("g").cast("binary")), 1, 12), 16, 10)
            .cast("long").as("h"))
        .distinct()
      val wS = Window.partitionBy(col("source")).orderBy(col("h").asc)
      val sk = hashed.withColumn("rn", row_number().over(wS))
        .filter(col("rn") <= K)
        .select(col("source"), col("h"))
        .transform(graft.Checkpoints.ckpt) // #sources × K rows
      val srcs = sk.select(col("source")).distinct()
      val pairs = srcs.select(col("source").as("sa"))
        .crossJoin(broadcast(srcs.select(col("source").as("sb"))))
        .filter(col("sa") < col("sb"))
      val va = pairs.join(sk.withColumnRenamed("source", "sa"), Seq("sa"))
      val vb = pairs.join(sk.withColumnRenamed("source", "sb"), Seq("sb"))
      val u = va.unionByName(vb)
        .groupBy(col("sa"), col("sb"), col("h"))
        .agg(count(lit(1)).as("nsrc"))
      val wU = Window.partitionBy(col("sa"), col("sb")).orderBy(col("h").asc)
      val uk = u.withColumn("rn", row_number().over(wU))
        .filter(col("rn") <= K)
      val estF = uk.groupBy(col("sa"), col("sb"))
        .agg(max(col("rn")).as("kk"),
          max(col("h")).as("theta"),
          sum(when(col("nsrc") === 2, 1L).otherwise(0L)).as("rho_num"))
        .select(col("sa"), col("sb"), col("kk"),
          when(col("kk") < K, col("kk").cast("double"))
            .otherwise(lit((K - 1).toDouble) * lit(math.pow(2.0, 48)) /
              col("theta").cast("double")).as("union_est"),
          (col("rho_num").cast("double") / col("kk").cast("double"))
            .as("rho"))
      val exact = grams.select(col("source").as("sa"), col("g"))
        .join(grams.select(col("source").as("sb"), col("g")), Seq("g"))
        .filter(col("sa") < col("sb"))
        .groupBy(col("sa"), col("sb"))
        .agg(count(lit(1)).as("exact_intersection"))
      val sizes = grams.groupBy(col("source")).agg(count(lit(1)).as("nv"))
      estF.join(exact, Seq("sa", "sb"))
        .join(sizes.select(col("source").as("sa"), col("nv").as("na")),
          Seq("sa"))
        .join(sizes.select(col("source").as("sb"), col("nv").as("nb")),
          Seq("sb"))
        .select(col("sa").as("src_a"), col("sb").as("src_b"),
          col("exact_intersection"),
          (round(col("union_est"), 4) + lit(0.0)).as("kmv_union_est"),
          (round(col("rho") * col("union_est"), 4) + lit(0.0))
            .as("kmv_intersection_est"),
          (abs(col("rho") * col("union_est") -
            col("exact_intersection").cast("double")) <=
            lit(4.0 / math.sqrt(K.toDouble)) *
              (col("na") + col("nb") - col("exact_intersection"))
                .cast("double") + lit(1e-9)).as("within_envelope"))
        .orderBy("src_a", "src_b")
    },

    // Curriculum schedule — orders the corpus easy-to-hard for curriculum
    // training: decile buckets over the q115 quality score, a
    // deterministic md5 shuffle key WITHIN each bucket (so one bucket
    // streams in random-but-reproducible order), and the realized
    // schedule is the sort on (bucket, sched_key). Bucket assignment is
    // quantile-THRESHOLD based, not NTILE: the nine 4-rounded decile cuts
    // come from ONE exact-percentile aggregation (the q104 recipe — Spark
    // percentile(q, array(...)) is one sort; QUANTILE_CONT the twin) and
    // broadcast back, so assignment is scan-local and the corpus is never
    // pulled through a single-partition global window — the scale
    // difference between NTILE and this is exactly the q91 prefix-sum
    // lesson. Both engines compare identical IEEE quality doubles against
    // identical rounded cuts, so buckets agree bit-for-bit.
    "q127_curriculum" -> { (s, dir) =>
      val quality = Tokens.gate(Tokens.words(col("text"))).quality
      val docs = Tables.t(s, dir, "documents")
        .select(col("doc_id"), quality.as("q"))
      val cuts = docs.agg(expr(
        "percentile(q, array(0.1D, 0.2D, 0.3D, 0.4D, 0.5D, " +
          "0.6D, 0.7D, 0.8D, 0.9D))").as("pp"))
        .select(transform(col("pp"), (p: Column) => round(p, 4)).as("cuts"))
      docs.crossJoin(broadcast(cuts))
        .select(col("doc_id"), round(col("q"), 4).as("quality"),
          (lit(1) + size(filter(col("cuts"), (t: Column) => col("q") > t)))
            .cast("long").as("bucket"),
          md5(concat(lit("q127:"), col("doc_id").cast("string"))
            .cast("binary")).as("sched_key"))
        .orderBy("doc_id")
    },

    // Length-bucket token-mass histogram — the packing/batching planner's
    // input: docs and token mass per 64-token length bucket plus the
    // cumulative token share (which buckets carry the corpus, where
    // truncation at a context length starts costing real mass). Scale
    // shape: bucket assignment is scan-local; the aggregation lands on
    // #buckets rows (metadata-scale: context lengths, not corpus size),
    // so the cumulative window over those rows is bounded regardless of
    // corpus size. Counts are exact longs; the share is one IEEE division
    // per bucket row.
    "q133_length_histogram" -> { (s, dir) =>
      val ntok = size(Tokens.words(col("text"))).cast("long")
      val byBucket = Tables.t(s, dir, "documents")
        .select((floor(ntok.cast("double") / lit(64.0)).cast("long")
          * 64).as("bucket"), ntok.as("n"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("n_tokens"))
      val cum = Window.partitionBy().orderBy(col("bucket").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = Window.partitionBy()
      byBucket
        .withColumn("cum_tokens", sum(col("n_tokens")).over(cum))
        .withColumn("total", sum(col("n_tokens")).over(tot))
        .select(col("bucket"), col("n_docs"), col("n_tokens"),
          round(col("cum_tokens").cast("double") /
            col("total").cast("double"), 4).as("cum_token_share"))
        .orderBy("bucket")
    },

    // Token-budget mixture planner — the planning table BEFORE q93's
    // application: given a token budget (half the corpus here — the knob
    // is corpus-relative so the operator is scale-free) and a uniform
    // target mixture, derive each source's allocation, the keep rate
    // min(1, alloc/tokens_s) the sampler should apply, the expected token
    // yield, and the shortfall where a source cannot fill its allocation
    // (the mass a second water-filling round would redistribute). Scale
    // shape: one per-source token aggregation; the planning arithmetic
    // runs on #sources rows — metadata scale — so the unpartitioned
    // windows are bounded regardless of corpus size.
    "q134_mixture_planner" -> { (s, dir) =>
      val tot = Window.partitionBy()
      val alloc = (col("total").cast("double") / lit(2.0)) /
        col("n_sources").cast("double")
      val toksD = col("tokens_s").cast("double")
      Tables.t(s, dir, "documents")
        .groupBy(col("source"))
        .agg(sum(size(Tokens.words(col("text"))).cast("long")).as("tokens_s"))
        .withColumn("total", sum(col("tokens_s")).over(tot))
        .withColumn("n_sources", count(lit(1)).over(tot))
        .select(col("source"), col("tokens_s"),
          round(alloc, 4).as("alloc_tokens"),
          round(least(lit(1.0), alloc / toksD), 4).as("keep_rate"),
          round(least(alloc, toksD), 4).as("expected_tokens"),
          round(greatest(lit(0.0), alloc - toksD), 4).as("shortfall"))
        .orderBy("source")
    },

    // Per-source token entropy — the lexical-diversity fingerprint next to
    // q132's Zipf slope: H = -sum p ln p over the source's unigram
    // distribution (low H = template/boilerplate source, high H = diverse
    // prose). Same stats spine as q106 minus the corpus marginal: one
    // (source, token) count aggregation, the per-source total as a window
    // over those vocabulary-sized rows (never a second corpus pass), and
    // the entropy summands reduced with the exact-decimal sum so the
    // result is order-independent and oracle-bit-identical.
    "q135_token_entropy" -> { (s, dir) =>
      tokenEntropyOf(Tables.t(s, dir, "documents")
        .select(col("source"), explode(Tokens.words(col("text"))).as("t")))
    },

    // q135 on the Zipf-regenerated corpus ([[TextQueries.zipfTokArray]]):
    // entropy reflects the rich log-uniform distribution (octave
    // choice + within-octave spread) instead of saturating at ln(31).
    "q306_zipf_entropy" -> { (s, dir) =>
      tokenEntropyOf(TextQueries.zipfTokens(Tables.t(s, dir, "documents")))
    },

    // Deterministic epoch shuffle — the training-order generator: each
    // epoch permutes the corpus by a key-tied hash (md5 of doc_id:epoch),
    // so the order is (a) uniform per epoch, (b) different across epochs,
    // and (c) reproducible from the key alone — re-running, resharding, or
    // growing the corpus never silently changes an already-emitted epoch's
    // order. Scale shape: the permutation rank is a total sort per epoch —
    // range-partitioned at 100 TB (Spark's global orderBy), writing
    // rank-bucketed files; no single-partition window, no driver state.
    "q137_epoch_shuffle" -> { (s, dir) =>
      val key = md5(concat(col("doc_id").cast("string"), lit(":"),
        col("epoch").cast("string")))
      val w = Window.partitionBy(col("epoch"))
        .orderBy(col("shuffle_key"), col("doc_id"))
      Tables.t(s, dir, "documents")
        .select(col("doc_id"),
          explode(array(lit(0), lit(1), lit(2))).as("epoch"))
        .withColumn("shuffle_key", key)
        .select(col("epoch"), col("doc_id"),
          row_number().over(w).cast("long").as("position"))
        .orderBy("epoch", "position")
    },

    // Packing-efficiency planner — the max_len sweep that decides the
    // sequence length q91's packer runs at: for each candidate length,
    // the number of sequences under naive one-chunk-per-sequence padding
    // (ceil(tokens/L) per doc), the padding fraction that wastes, the
    // perfect-packing floor ceil(total/L), and the gain packing buys.
    // All integer arithmetic until two final divisions of exact longs —
    // cross-engine deterministic with no rounding. Scale shape: the
    // candidate lengths explode scan-locally (3x rows), partial
    // aggregation lands on #lengths keys — one corpus pass, metadata-
    // sized result.
    "q139_packing_efficiency" -> { (s, dir) =>
      Tables.t(s, dir, "documents")
        .select(size(Tokens.words(col("text"))).cast("long").as("n_tok"))
        .select(col("n_tok"),
          explode(array(lit(128L), lit(256L), lit(512L))).as("max_len"))
        .withColumn("chunks", expr("(n_tok + max_len - 1) div max_len"))
        .groupBy(col("max_len"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("total_tokens"),
          sum(col("chunks")).as("seqs_padded"))
        .withColumn("seqs_packed",
          expr("(total_tokens + max_len - 1) div max_len"))
        .select(col("max_len"), col("n_docs"), col("total_tokens"),
          col("seqs_padded"),
          (lit(1.0) - col("total_tokens").cast("double") /
            (col("seqs_padded") * col("max_len")).cast("double"))
            .as("pad_frac"),
          col("seqs_packed"),
          (col("seqs_padded").cast("double") /
            col("seqs_packed").cast("double")).as("packing_gain"))
        .orderBy("max_len")
    },

    // Vocabulary coverage points — how many distinct tokens (taken most-
    // frequent-first) cover 50 / 90 / 99% of each source's token mass:
    // the tokenizer-budget planner's companion to q128's growth curve and
    // q132's Zipf slope (a steep source needs few types; a flat one pays
    // OOV or a bigger vocab). Scale shape: one (source, token) count
    // aggregation; the rank and running mass are windows over those
    // vocabulary-sized rows; the threshold picks are one more tiny
    // aggregation. Comparisons run on exact int64 masses (cum * 100 >=
    // pct * total in integer arithmetic — no float threshold can
    // half-boundary).
    "q145_vocab_coverage" -> { (s, dir) =>
      vocabCoverageOf(Tables.t(s, dir, "documents")
        .select(col("source"), explode(Tokens.words(col("text"))).as("t")))
    },

    // q145 on the Zipf-regenerated corpus: the coverage points spread
    // out the way the tokenizer-budget planner needs (k50 small, k99
    // deep in the tail) instead of all collapsing onto the 31-type
    // vocabulary.
    "q307_zipf_coverage" -> { (s, dir) =>
      vocabCoverageOf(TextQueries.zipfTokens(Tables.t(s, dir, "documents")))
    },

    // Pairwise source KL divergence — the mixture-design statistic behind
    // domain weighting (DoReMi-style reweighting, dedup-by-distribution
    // sanity checks): KL(P||Q) between every ordered pair of source
    // unigram distributions, add-one smoothed over the GLOBAL vocab so
    // tokens absent from one source keep the sum finite. Scale shape:
    // the only corpus-sized pass is the (source, token) count
    // aggregation; the smoothed matrix is vocab x #sources rows (totals
    // and the vocab size ride as broadcast #sources-row/one-row frames), and
    // the pair join blows up to vocab x sources^2 — vocab-bounded, never
    // corpus-bounded. Counts are exact longs, so the smoothed p's are
    // identical doubles in both engines; summands reduce through the
    // order-independent exact-decimal sum.
    "q149_source_kl" -> { (s, dir) =>
      val tokc = Tables.t(s, dir, "documents")
        .select(col("source"), explode(Tokens.words(col("text"))).as("token"))
        .groupBy(col("source"), col("token")).agg(count(lit(1)).as("c"))
      val totals = tokc.groupBy(col("source")).agg(sum(col("c")).as("n_tok"))
      val vocabN = tokc.select(col("token")).distinct()
        .agg(count(lit(1)).as("v"))
      val m = tokc.select(col("token")).distinct()
        .crossJoin(broadcast(totals)).crossJoin(broadcast(vocabN))
        .join(tokc, Seq("source", "token"), "left")
        .select(col("source"), col("token"),
          ((coalesce(col("c"), lit(0L)) + 1).cast("double") /
            (col("n_tok") + col("v")).cast("double")).as("p"))
      val a = m.select(col("source").as("p_source"), col("token"),
        col("p").as("pa"))
      val b = m.select(col("source").as("q_source"), col("token"),
        col("p").as("pb"))
      a.join(b, Seq("token")).filter(col("p_source") =!= col("q_source"))
        .select(col("p_source"), col("q_source"),
          (col("pa") * log(col("pa") / col("pb"))).as("summand"))
        .groupBy(col("p_source"), col("q_source"))
        .agg(graft.Fns.dsum18(col("summand")).as("kl_raw"))
        .select(col("p_source"), col("q_source"),
          (round(col("kl_raw"), 6) + lit(0.0)).as("kl"))
        .orderBy("p_source", "q_source")
    },

    // Deterministic shard routing + balance audit — the final step that
    // writes training shards: every doc routes to md5(doc_id) mod 16
    // (key-tied like every sampler here: resharding the INPUT never moves
    // a doc between OUTPUT shards, so shard k is reproducible in
    // isolation), and the audit reports per-shard doc/token mass and
    // share — the skew check before 16 writers each pull one shard. Scale
    // shape: routing is scan-local arithmetic; the audit is one
    // #shards-key aggregation and a window over 16 rows. At 100 TB the
    // same expression IS the repartition key (`repartition(16,
    // col("shard"))`), giving hash-partitioned writer tasks with no
    // second shuffle.
    "q154_shard_assignment" -> { (s, dir) =>
      val h = conv(substring(md5(col("doc_id").cast("string")
        .cast("binary")), 1, 4), 16, 10).cast("long")
      Tables.t(s, dir, "documents")
        .select((h % 16).as("shard"),
          size(Tokens.words(col("text"))).cast("long").as("n_tokens"))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
        .withColumn("token_share",
          col("n_tokens").cast("double") /
            sum(col("n_tokens")).over(Window.partitionBy()).cast("double"))
        .orderBy("shard")
    },

    // OOV rate against a fixed reference vocabulary — the tokenizer-
    // transfer check: if the tokenizer's vocab was fit on the whole
    // corpus (here: the global top-1000 tokens, ties by token), what
    // share of each source's token mass falls OUTSIDE it? A source with
    // a high OOV rate will fragment into long byte-fallback sequences —
    // the per-source warning light next to q126's fertility table.
    // Scale shape: one corpus-sized (source, token) count pass; the
    // reference vocab is a TakeOrdered top-k off the global counts
    // (never a full sort) and rides as a broadcast join; the report is
    // #sources rows. All masses are exact longs.
    "q161_oov_rate" -> { (s, dir) =>
      val sc = Tables.t(s, dir, "documents")
        .select(col("source"), explode(Tokens.words(col("text"))).as("token"))
        .groupBy(col("source"), col("token")).agg(count(lit(1)).as("c"))
      val top = sc.groupBy(col("token")).agg(sum(col("c")).as("tc"))
        .orderBy(col("tc").desc, col("token").asc).limit(1000)
        .select(col("token"), lit(true).as("in_vocab"))
      sc.join(broadcast(top), Seq("token"), "left")
        .groupBy(col("source"))
        .agg(sum(col("c")).as("n_tokens"),
          sum(when(col("in_vocab").isNull, col("c")).otherwise(0L))
            .as("oov_tokens"))
        .select(col("source"), col("n_tokens"), col("oov_tokens"),
          (col("oov_tokens").cast("double") / col("n_tokens").cast("double"))
            .as("oov_rate"))
        .orderBy("source")
    },

    // Exact-k weighted sampling (Efraimidis-Spirakis A-ExpJ form) — the
    // missing piece between q115 (probabilistic keep, budget only in
    // expectation) and q120 (exact quota, unweighted): EXACTLY k docs
    // per source, drawn with probability proportional to a quality
    // weight. Each doc gets key = -ln(u) / w with u a hash-derived
    // uniform in (0,1) — key-tied, so the draw is reproducible and
    // resharding-stable like every sampler here — and the k smallest
    // keys per source win (exponential-race argument: P(min) ∝ w).
    // Scale shape: weight and key are scan-local; selection is a
    // per-source top-k rank window (group-bounded, never a global sort);
    // u's exact-long hash arithmetic makes -ln(u)/w the same double in
    // both engines (the q102/q135 LN precedent). Keys round to 6 for
    // presentation only — selection compares unrounded.
    "q164_weighted_sample" -> { (s, dir) =>
      // weight: distinct-ratio quality in (0, 1] — richer docs likelier
      val wgt = Tokens.gate(Tokens.words(col("text"))).distinctRatio
      val u = (conv(substring(md5(col("doc_id").cast("string")
        .cast("binary")), 1, 8), 16, 10).cast("double") + lit(1.0)) /
        lit(4294967297.0)
      val wS = Window.partitionBy(col("source"))
        .orderBy(col("key"), col("doc_id"))
      Tables.t(s, dir, "documents")
        .select(col("doc_id"), col("source"), wgt.as("w"),
          (-log(u) / wgt).as("key"))
        .withColumn("rk", row_number().over(wS))
        .filter(col("rk") <= 20)
        .select(col("doc_id"), col("source"), round(col("w"), 4).as("w"),
          round(col("key"), 6).as("key"), col("rk"))
        .orderBy("source", "rk")
    },

    // q164's weighted sample re-spelled through the mergeable bounded-
    // heap aggregate ([[graft.functions.BottomKByAggregate]]) — the
    // batch contract row for the sampling family's skew-immune form:
    // the window spelling concentrates each source's FULL row set on
    // one task and sorts it; the aggregate ships <= k slots per source
    // per map task and merges heaps, so a pathologically hot source
    // costs k slots like any other (and the same merge path is the
    // streaming twin's state update). Same -ln(u)/w keys, same
    // (key, doc_id) total order — the oracle STATES the window
    // spelling, so the driver hash-checks that heap-merge == sort.
    "q303_weighted_sample_agg" -> { (s, dir) =>
      val wgt = Tokens.gate(Tokens.words(col("text"))).distinctRatio
      val u = (conv(substring(md5(col("doc_id").cast("string")
        .cast("binary")), 1, 8), 16, 10).cast("double") + lit(1.0)) /
        lit(4294967297.0)
      Tables.t(s, dir, "documents")
        .select(col("doc_id"), col("source"), (-log(u) / wgt).as("key"))
        .groupBy(col("source"))
        .agg(graft.functions.BottomKByAggregate
          .bottomKBy(col("key"), col("doc_id"), 20).as("smp"))
        .select(col("source"), posexplode(col("smp")).as(Seq("p0", "e")))
        .select(col("e.id").as("doc_id"), col("source"),
          round(col("e.v"), 6).as("key"),
          (col("p0") + 1).cast("int").as("rk"))
        .orderBy("source", "rk")
    },

    // Kolmogorov–Smirnov drift per source: D = max ECDF gap between a
    // source's length distribution and the REST of the corpus — the
    // nonparametric twin of q143's PSI (PSI needs binning choices; KS is
    // binning-free and exact). The trick that keeps it exact AND scalable:
    // both ECDFs only jump at observed values, so evaluating the gap on
    // the distinct-value grid is exhaustive, and that grid is
    // DIMENSION-sized (#sources × #distinct lengths) after the first
    // aggregation collapses the corpus. Shapes: one corpus-sized groupBy,
    // a global cumulative window over #distinct-value rows, a broadcast
    // cross of the #sources stats into that grid, and a per-source
    // cumulative window. All counts exact longs; the two ECDF divisions
    // and their difference are single IEEE ops — bit-stable cross-engine.
    "q166_ks_drift" -> { (s, dir) =>
      val d = Tables.t(s, dir, "documents")
        .select(col("source"), col("n_chars"))
      val cnt = d.groupBy(col("source"), col("n_chars"))
        .agg(count(lit(1)).as("c"))
      val srcTot = cnt.groupBy(col("source")).agg(sum(col("c")).as("n_s"))
      val wAll = Window.orderBy(col("n_chars")) // #distinct-value rows only
      val gcum = cnt.groupBy(col("n_chars")).agg(sum(col("c")).as("cg"))
        .withColumn("cum_all", sum(col("cg")).over(wAll))
        .select(col("n_chars"), col("cum_all"))
      val total = d.agg(count(lit(1)).as("n_total"))
      val wS = Window.partitionBy(col("source")).orderBy(col("n_chars"))
      broadcast(srcTot).crossJoin(gcum)
        .join(cnt, Seq("source", "n_chars"), "left")
        .na.fill(0L, Seq("c"))
        .withColumn("cum_s", sum(col("c")).over(wS))
        .crossJoin(broadcast(total))
        .withColumn("gap", abs(
          col("cum_s").cast("double") / col("n_s").cast("double")
            - (col("cum_all") - col("cum_s")).cast("double")
              / (col("n_total") - col("n_s")).cast("double")))
        .groupBy(col("source"))
        .agg(max(col("n_s")).as("n_docs"), max(col("gap")).as("ks_d"))
        .orderBy("source")
    },

    // Size-balanced contiguous sharding — the compaction/shard planner: a
    // 100 TB corpus lands as files whose sizes a writer must rebalance
    // into ~equal-byte shards WITHOUT breaking doc_id order (contiguous
    // ranges keep per-shard metadata to two ids and preserve locality for
    // range predicates). Shard = floor(exclusive-prefix-chars / target):
    // q91's two-phase distributed prefix sum per source (bucket-local
    // cumsum, then a prefix over bucket TOTALS — the only single-ordering
    // window sees #buckets rows), never one window over a whole source.
    // The oracle states the single-window spelling this must equal.
    "q167_size_shards" -> { (s, dir) =>
      val target = 20000L
      val bucketWidth = 500L
      val d = Tables.t(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"))
        .withColumn("bucket", expr(s"doc_id div $bucketWidth"))
      val wLocal = Window.partitionBy(col("source"), col("bucket"))
        .orderBy(col("doc_id"))
      val local = d.withColumn("local_cume", sum(col("n_chars")).over(wLocal))
      val wB = Window.partitionBy(col("source")).orderBy(col("bucket"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val offsets = d.groupBy(col("source"), col("bucket"))
        .agg(sum(col("n_chars")).as("bt"))
        .withColumn("off", coalesce(sum(col("bt")).over(wB), lit(0L)))
        .select(col("source"), col("bucket"), col("off"))
      local.join(broadcast(offsets), Seq("source", "bucket"))
        .withColumn("cume", col("off") + col("local_cume"))
        .withColumn("shard", expr(s"(cume - n_chars) div $target"))
        .groupBy(col("source"), col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          min(col("doc_id")).as("first_doc"),
          max(col("doc_id")).as("last_doc"))
        .orderBy("source", "shard")
    },

    // Poisson-bootstrap confidence interval for each source's mean
    // quality — the uncertainty bar the point estimates (q158's profile,
    // q33's score) never carry: is "source A scores 0.02 below B" signal
    // or noise at this sample size? Deterministic bootstrap: resample r
    // draws doc d with weight k ~ Poisson(1) read off a hash-uniform
    // through the literal CDF thresholds (the standard streaming
    // approximation of multinomial resampling — weights are i.i.d. and
    // need no global coordination, which is what makes bootstrap
    // POSSIBLE on a sharded corpus; key-tied hashes make it reproducible
    // and resharding-stable like every sampler here). Scale shape: a 32×
    // scan fan-out (R=32 resamples ride one explode — no per-resample
    // pass, and each 128-bit md5 feeds FOUR 32-bit uniforms so the
    // hashing cost is 8 digests/doc, not 32 — measured 2.7 s → 1.0 s at
    // sf0.1, 13.8 s → 1.4 s at sf1), one (source, r) aggregation via the exact-decimal sum, and
    // a #sources-row percentile rollup over 32 resample means.
    "q177_bootstrap_ci" -> { (s, dir) =>
      val x = Tokens.gate(Tokens.words(col("text"))).distinctRatio
      val u = (conv(col("h"), 16, 10).cast("double") + lit(1.0)) /
        lit(4294967297.0)
      val k = when(u < 0.36787944117144233, 0L)
        .when(u < 0.7357588823428847, 1L)
        .when(u < 0.9196986029286058, 2L)
        .when(u < 0.9810118431238463, 3L)
        .when(u < 0.9963401531726563, 4L)
        .when(u < 0.9994058151824183, 5L)
        .otherwise(6L)
      val means = Tables.t(s, dir, "documents")
        .select(col("doc_id"), col("source"), x.as("x"))
        .withColumn("dg", expr(
          "transform(sequence(0, 7), j -> md5(cast(concat(" +
            "cast(doc_id as string), '_', cast(j as string)) as binary)))"))
        .select(col("source"), col("x"), posexplode(expr(
          "flatten(transform(dg, d -> transform(sequence(0, 3), " +
            "s -> substring(d, 1 + 8 * s, 8))))")).as(Seq("r", "h")))
        .select(col("source"), col("r"), col("x"), k.as("k"))
        .groupBy(col("source"), col("r"))
        .agg((graft.Fns.dsum(col("k").cast("double") * col("x"))
          / sum(col("k")).cast("double")).as("m"))
      means.groupBy(col("source"))
        .agg(round(expr("percentile(m, 0.025)"), 4).as("ci_lo"),
          round(expr("percentile(m, 0.5)"), 4).as("ci_med"),
          round(expr("percentile(m, 0.975)"), 4).as("ci_hi"))
        .orderBy("source")
    },

    // Spearman rank correlation between two quality signals per source —
    // do doc length and lexical diversity AGREE about which documents
    // are good? The diagnostic a curation pipeline runs before stacking
    // filters (two highly rank-correlated gates are one gate paid
    // twice; an anti-correlated pair silently empties the corpus).
    // Average-rank ties via RANK() + (tie_count-1)/2 — the textbook
    // midrank, expressible as two windows per signal; the correlation is
    // Pearson over midranks from exact moments (ranks carry only .5
    // halves and .25 products — exact through the decimal sums at any
    // corpus size, where a raw double sum of n³-scale rank products
    // would be partitioning-dependent). Per-source windows + one
    // aggregation; #sources rows out.
    "q181_rank_correlation" -> { (s, dir) =>
      val y = Tokens.gate(Tokens.words(col("text"))).distinctRatio
      val wX = Window.partitionBy(col("source")).orderBy(col("n_chars"))
      val wXt = Window.partitionBy(col("source"), col("n_chars"))
      val wY = Window.partitionBy(col("source")).orderBy(col("y"))
      val wYt = Window.partitionBy(col("source"), col("y"))
      val ranked = Tables.t(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"), y.as("y"))
        .withColumn("rx", rank().over(wX).cast("double")
          + (count(lit(1)).over(wXt) - 1).cast("double") / 2.0)
        .withColumn("ry", rank().over(wY).cast("double")
          + (count(lit(1)).over(wYt) - 1).cast("double") / 2.0)
      val nD = col("n").cast("double")
      ranked.groupBy(col("source"))
        .agg(count(lit(1)).as("n"),
          graft.Fns.dsum(col("rx")).as("sx"),
          graft.Fns.dsum(col("ry")).as("sy"),
          graft.Fns.dsum(col("rx") * col("rx")).as("sxx"),
          graft.Fns.dsum(col("ry") * col("ry")).as("syy"),
          graft.Fns.dsum(col("rx") * col("ry")).as("sxy"))
        .select(col("source"), col("n").as("n_docs"),
          ((nD * col("sxy") - col("sx") * col("sy"))
            / sqrt((nD * col("sxx") - col("sx") * col("sx"))
              * (nD * col("syy") - col("sy") * col("sy")))).as("rho"))
        .orderBy("source")
    },

    // Chi-square homogeneity per source: is a source's length-bucket
    // HISTOGRAM drawn from the same distribution as the rest of the
    // corpus? The categorical twin of q166's KS (KS reads the continuous
    // ECDF; chi-square reads binned shape and generalizes to any
    // categorical column) — χ² = Σ (O−E)²/E over the source-vs-rest 2×B
    // table with margin-product expecteds. q166's grid recipe: one
    // corpus aggregation collapses to (source, bucket) counts, the
    // #sources × #buckets grid is dimension-sized, zero cells zero-fill
    // (their E>0 term still contributes). Observed counts are exact
    // longs; each cell term is a fixed IEEE chain and the bucket sum
    // runs through the scale-18 decimal, so χ² is engine-identical.
    "q182_chisq_drift" -> { (s, dir) =>
      val bucketW = 50L
      val d = Tables.t(s, dir, "documents")
        .select(col("source"), expr(s"n_chars div $bucketW").as("b"))
      val cnt = d.groupBy(col("source"), col("b"))
        .agg(count(lit(1)).as("o"))
      val srcTot = cnt.groupBy(col("source")).agg(sum(col("o")).as("n_s"))
      val bTot = cnt.groupBy(col("b")).agg(sum(col("o")).as("n_b"))
      val total = d.agg(count(lit(1)).as("n_total"))
      val nT = col("n_total").cast("double")
      def term(o: Column, e: Column) = (o.cast("double") - e) *
        (o.cast("double") - e) / e
      val eS = col("n_s").cast("double") * col("n_b").cast("double") / nT
      val eR = (col("n_total") - col("n_s")).cast("double") *
        col("n_b").cast("double") / nT
      broadcast(srcTot).crossJoin(bTot)
        .join(cnt, Seq("source", "b"), "left")
        .na.fill(0L, Seq("o"))
        .crossJoin(broadcast(total))
        .select(col("source"), col("n_s"),
          (term(col("o"), eS) + term(col("n_b") - col("o"), eR))
            .as("cell"))
        .groupBy(col("source"))
        .agg(max(col("n_s")).as("n_docs"),
          (count(lit(1)) - 1).as("dof"),
          // statistic on the 1e-8 grid: the engines' double->decimal
          // casts disagree below the double ulp for O(1) cell terms,
          // and a dozen buckets surface that at ~1e-15
          round(graft.Fns.dsum18(col("cell")), 8).as("chi_sq"))
        .orderBy("source")
    },

    // Pareto skyline per source (Börzsönyi et al. 2001): the documents
    // no other document dominates on (length, lexical diversity) — the
    // frontier a curator actually eyeballs ("the best long docs at every
    // quality level"), and the classic relational operator Spark has no
    // built-in for. Sort-based 2-D skyline as pure windows: a doc
    // survives iff its diversity beats every STRICTLY-longer doc's
    // running max (range frame over n_chars, so equal lengths stay out
    // of each other's frames) and it tops its own equal-length group.
    // Both windows ride one per-source partitioning; dominance compares
    // engine-identical doubles, so the frontier is exactly reproducible.
    "q185_skyline" -> { (s, dir) =>
      val y = Tokens.gate(Tokens.words(col("text"))).distinctRatio
      val wLonger = Window.partitionBy(col("source"))
        .orderBy(col("n_chars"))
        .rangeBetween(1L, Window.unboundedFollowing)
      val wSame = Window.partitionBy(col("source"), col("n_chars"))
      Tables.t(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"), y.as("y"))
        .withColumn("m_longer", max(col("y")).over(wLonger))
        .withColumn("m_same", max(col("y")).over(wSame))
        .filter((col("m_longer").isNull || col("y") > col("m_longer"))
          && col("y") === col("m_same"))
        .select(col("source"), col("doc_id"), col("n_chars"),
          round(col("y"), 4).as("diversity"))
        .orderBy(col("source"), col("n_chars").desc, col("doc_id"))
    },

    // Exact mixture apportionment (Hamilton's largest-remainder method):
    // q93's sqrt-damped target weights turned into EXACT per-source doc
    // quotas summing to K — where q93's hash-rate keep only hits its
    // budget in expectation, a training-mix materializer must fill
    // quotas exactly (a 1000-doc budget means 1000 docs). floor(w·K)
    // seats everyone's integer part, the remaining seats go to the
    // largest fractional remainders (ties to the lexicographically first
    // source — deterministic). Every frame after the source rollup is
    // #sources-sized, so the global remainder rank is a dimension-sized
    // window, not a corpus sort.
    "q190_mixture_apportion" -> { (s, dir) =>
      val K = 1000L
      val counts = Tables.t(s, dir, "documents")
        .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
        .withColumn("w", round(sqrt(col("n_docs").cast("double")), 6))
      val denom = counts.agg(graft.Fns.dsum(col("w")).as("w_sum"))
      val wAll = Window.partitionBy(lit(0))
      val wRank = Window.orderBy(col("rem").desc, col("source").asc)
      counts.crossJoin(broadcast(denom))
        .withColumn("mix_w", col("w") / col("w_sum"))
        .withColumn("ideal", col("mix_w") * lit(1000.0))
        .withColumn("base", floor(col("ideal")).cast("long"))
        .withColumn("rem", col("ideal") - floor(col("ideal")))
        .withColumn("deficit", lit(K) - sum(col("base")).over(wAll))
        .withColumn("rk", row_number().over(wRank).cast("long"))
        .select(col("source"), col("n_docs"), col("mix_w"),
          (col("rk") <= col("deficit")).as("got_bonus"),
          (col("base") + when(col("rk") <= col("deficit"), 1L)
            .otherwise(0L)).as("quota"))
        .orderBy("source")
    },

    // Sliding-window chunking with stride (the RAG/pretraining overlap
    // splitter): fixed 20-token windows every 10 tokens, so consecutive
    // chunks share half their context — where q65's disjoint chunks cut
    // mid-thought, the overlap keeps every boundary covered by some
    // chunk's interior. Scan-local: starts enumerate by stride inside a
    // transform over the materialized token array (bounded 2× fan-out),
    // one generator explode, no window function over the token stream.
    "q191_sliding_chunks" -> { (s, dir) =>
      val win = 20; val stride = 10
      Tables.t(s, dir, "documents")
        .select(col("doc_id"), Tokens.words(col("text")).as("tok"))
        .select(col("doc_id"), size(col("tok")).as("n"), posexplode(expr(
          // CAST pins the struct fields to INT: `div` yields LONG, and
          // the oracle's GENERATE_SERIES casts to INTEGER
          s"transform(sequence(0, (size(tok) - 1) div $stride), " +
            s"i -> named_struct(" +
            s"'start_tok', CAST(i * $stride + 1 AS INT), " +
            s"'chunk', array_join(slice(tok, i * $stride + 1, $win), ' ')" +
            s"))")).as(Seq("chunk_idx", "c")))
        .select(col("doc_id"), col("chunk_idx"),
          col("c.start_tok").as("start_tok"),
          least(lit(win), col("n") - col("c.start_tok") + 1)
            .cast("int").as("n_tokens"),
          col("c.chunk").as("chunk_text"))
        .orderBy("doc_id", "chunk_idx")
    },

    // Cross-source quantile normalization of a per-doc quality score
    // (the microarray-analytics transform applied to corpus curation):
    // each document's score is replaced by the POOLED distribution's
    // value at the document's within-source quantile, so every source's
    // score distribution becomes comparable before mixture planning —
    // the fix for "source A's quality model runs hot". Within-source
    // quantile = PERCENT_RANK (rank-based, tie-stable); the pooled
    // order statistics come from a TWO-PHASE global row_number (q91's
    // prefix-sum shape: coarse score-range buckets are a prefix of the
    // sort key, so bucket-local row numbers plus a broadcast
    // bucket-offset table replace the single-partition global window);
    // the lookup interpolates linearly between adjacent order
    // statistics via two integer-keyed joins. No corpus-sized sort ever
    // lands on one task.
    "q198_quantile_norm" -> { (s, dir) =>
      val d = Tables.t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          col("n_chars").cast("double").as("score"))
      val wSrc = Window.partitionBy(col("source")).orderBy(col("score"))
      val n = d.agg(count(lit(1)).as("n"))
      // two-phase pooled rank: bucket-local row_number + bucket offsets
      val b = d.withColumn("bkt", expr("CAST(score AS BIGINT) div 64"))
      val wLoc = Window.partitionBy(col("bkt"))
        .orderBy(col("score"), col("doc_id"))
      val wOff = Window.orderBy(col("bkt"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val offs = b.groupBy(col("bkt")).agg(count(lit(1)).as("bn"))
        .withColumn("off", coalesce(sum(col("bn")).over(wOff), lit(0L)))
        .select(col("bkt"), col("off"))
      val pooled = b.join(broadcast(offs), "bkt")
        .withColumn("idx", col("off") + row_number().over(wLoc) - 1)
        .select(col("idx"), col("score").as("pv"))
      val ranked = d
        .withColumn("pr", percent_rank().over(wSrc))
        .crossJoin(broadcast(n))
        .withColumn("fidx", col("pr") * (col("n") - 1).cast("double"))
        .withColumn("lo", floor(col("fidx")))
        .withColumn("hi", least(col("lo") + 1, col("n") - 1))
      ranked
        .join(pooled.select(col("idx").as("lo"), col("pv").as("lo_v")), "lo")
        .join(pooled.select(col("idx").as("hi"), col("pv").as("hi_v")), "hi")
        .select(col("doc_id"), col("source"), col("score"),
          (round(col("lo_v") +
            (col("fidx") - col("lo").cast("double")) *
            (col("hi_v") - col("lo_v")), 6) + lit(0.0)).as("qnorm"))
        .orderBy("doc_id")
    },

    // Neyman-optimal sample allocation across sources: a fixed
    // evaluation budget K split so strata sample sizes track N_h·σ_h
    // (big AND internally-diverse sources earn more draws — the
    // minimum-variance stratified design, vs q120's proportional and
    // q190's sqrt-damped splits), finished with q190's
    // largest-remainder exact apportionment so quotas sum to exactly K.
    // Per-stratum σ comes from exact integer sums of the length score
    // (q202's moment recipe — bit-identical thresholds in both
    // engines); everything after the one per-source aggregation is
    // #sources-sized.
    "q206_neyman_allocation" -> { (s, dir) =>
      val K = 100L
      val m = Tables.t(s, dir, "documents")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sx"),
          sum(col("n_chars") * col("n_chars")).as("sx2"))
        .filter(col("n_docs") >= 2)
        .withColumn("sd", sqrt(greatest(
          (col("sx2").cast("double") -
            col("sx").cast("double") * col("sx").cast("double") /
              col("n_docs").cast("double")) /
            (col("n_docs") - 1).cast("double"),
          lit(0.0))))
        .withColumn("w",
          round(col("n_docs").cast("double") * col("sd"), 6))
      val denom = m.agg(graft.Fns.dsum(col("w")).as("w_sum"))
      val wAll = Window.partitionBy(lit(0))
      val wRank = Window.orderBy(col("rem").desc, col("source").asc)
      m.crossJoin(broadcast(denom))
        .withColumn("alloc_w", col("w") / col("w_sum"))
        .withColumn("ideal", col("alloc_w") * lit(100.0))
        .withColumn("base", floor(col("ideal")).cast("long"))
        .withColumn("rem", col("ideal") - floor(col("ideal")))
        .withColumn("deficit", lit(K) - sum(col("base")).over(wAll))
        .withColumn("rk", row_number().over(wRank).cast("long"))
        .select(col("source"), col("n_docs"),
          (round(col("sd"), 6) + lit(0.0)).as("sd"),
          (round(col("alloc_w"), 10) + lit(0.0)).as("alloc_w"),
          (col("base") + when(col("rk") <= col("deficit"), 1L)
            .otherwise(0L)).as("quota"))
        .orderBy("source")
    },

    // Rejection-reason census: which admission rules fire, ALONE AND IN
    // COMBINATION — the observability readout curation teams tune gates
    // with (a pass/fail flag per doc says how much was dropped; the
    // reason-combination histogram says WHY, and whether rules are
    // redundant). Four exact-integer rules from one fused NGramStats
    // pass (no float thresholds — ratios compare via integer
    // cross-multiplication, so no engine can disagree at a boundary);
    // the reason string concatenates failed rules in a fixed order.
    // Scan-local per doc; one reason-keyed aggregation (≤16 rows).
    // The nightly-pipeline COMPOSITION ledger — every stage already has
    // its own row (q88 gate, q31 exact dedup, q71 near-dedup, q87
    // decontamination, q120 sample) but nothing proved their chain: one
    // row per stage with exact in/kept/dropped counts, each stage
    // consuming the previous stage's survivors — what a production run
    // reports every night. The chain runs on the planted-family Zipf
    // corpus (q313's domain — the raw fixture's saturated vocabulary
    // makes near-dedup eat ~90% of the corpus and starve stages 4–5
    // into vacuity) with two PLANTS (the q96/q122 precedent) so every
    // stage fires: doc_id % 9 = 5 copies doc_id − 5 verbatim (a
    // cross-source exact duplicate whose donor is in the chain → a true
    // exact-dedup drop), and doc_id % 11 = 3 copies its 20-block's src0
    // doc verbatim (an eval-set copy that sails through dedup and is
    // caught by DECONTAMINATION). Stage semantics: gate = the Gopher
    // rules; exact dedup = first doc_id per identical text survives;
    // near-dedup = q71's min-label components at J ≥ 0.6, non-canonical
    // members drop; decontaminate = any shared 5-shingle with the src0
    // eval set drops; sample = per-source md5-ranked quota of 7. Scale
    // shape: each stage is the proven operator's plan run on a
    // shrinking checkpointed frame — one corpus scan feeds the gate,
    // dedup keys on md5(text), near-dedup on the prefix-filtered
    // PPJoin, and the counts are five 1-row actions; no stage
    // re-derives an earlier stage's work. Counts exact longs.
    "q317_pipeline_yield" -> { (s, dir) =>
      import s.implicits._
      val zdocs = ZipfContracts.familyDocs(s, dir)
        .transform(graft.Checkpoints.ckpt)
      val donorId = when(col("doc_id") % 9 === 5 && col("doc_id") >= 5,
        col("doc_id") - 5)
        .when(col("doc_id") % 11 === 3,
          col("doc_id") - col("doc_id") % 20)
      val donors = zdocs.select(col("doc_id").as("donor_id"),
        col("text").as("donor_text"))
      val input = zdocs.filter(col("source") =!= "src0")
        .withColumn("donor_id", donorId)
        .join(donors, Seq("donor_id"), "left")
        .select(col("doc_id"), col("source"),
          coalesce(col("donor_text"), col("text")).as("text"))
        .transform(graft.Checkpoints.ckpt)
      val tok = Tokens.words(col("text"))
      val n = size(tok)
      val sumLen = aggregate(tok, lit(0L),
        (acc: Column, t: Column) => acc + length(t).cast("long"))
      val ml = sumLen.cast("double") / n.cast("double")
      val af = size(filter(tok, (t: Column) => t.rlike("[a-z]")))
        .cast("double") / n.cast("double")
      val tfr = graft.functions.NGramStats.ngramStats(col("text"), 1)
        .getField("top").cast("double") / n.cast("double")
      // ml lower bound 2.0, not q88's 3.0: the Zipf vocabulary's head
      // ranks are 2-3 chars ('w1'..'w15'), so corpus mean word length
      // sits near 3.0 and the q88 bound would reject ~90% of the domain
      // - gate thresholds are per-corpus parameters, tuned here exactly
      // as a production run tunes them per language
      val pass = n.between(50, 100000) && ml.between(2.0, 10.0) &&
        af >= lit(0.8) && tfr <= lit(0.2)
      val n0 = input.count()
      val s1 = input.filter(pass).transform(graft.Checkpoints.ckpt)
      val n1 = s1.count()
      graft.Checkpoints.free(input)
      val wT = org.apache.spark.sql.expressions.Window
        .partitionBy(md5(col("text").cast("binary")))
        .orderBy(col("doc_id"))
      val s2 = s1.withColumn("_rn", row_number().over(wT))
        .filter(col("_rn") === 1).drop("_rn").transform(graft.Checkpoints.ckpt)
      val n2 = s2.count()
      graft.Checkpoints.free(s1)
      val cc = DedupQueries.nearDupClusters(s2)
      val s3 = s2.join(cc.filter(col("id") =!= col("label"))
        .select(col("id").as("doc_id")), Seq("doc_id"), "left_anti")
        .transform(graft.Checkpoints.ckpt)
      val n3 = s3.count()
      graft.Checkpoints.free(s2)
      val sh5 = graft.functions.ShingleHashes.shingleHashes(col("text"), 5)
      val evalSh = zdocs.filter(col("source") === "src0")
        .select(explode(sh5).as("h")).distinct()
      val cont = s3.select(col("doc_id"), explode(sh5).as("h"))
        .join(evalSh, "h").select("doc_id").distinct()
      val s4 = s3.join(cont, Seq("doc_id"), "left_anti").transform(graft.Checkpoints.ckpt)
      val n4 = s4.count()
      graft.Checkpoints.free(s3)
      val wS = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source"))
        .orderBy(md5(concat(lit("q317:"), col("doc_id").cast("string"))
          .cast("binary")).asc, col("doc_id").asc)
      val n5 = s4.withColumn("rk", row_number().over(wS))
        .filter(col("rk") <= 7).count()
      graft.Checkpoints.free(s4)
      Seq(("1_gate", n0, n1), ("2_exact_dedup", n1, n2),
        ("3_near_dedup", n2, n3), ("4_decontaminate", n3, n4),
        ("5_sample", n4, n5))
        .toDF("stage", "n_in", "n_kept")
        .withColumn("n_dropped", col("n_in") - col("n_kept"))
        .orderBy("stage")
    },

    // The q317 ledger extended with the FineWeb pipeline's MODEL stage
    // — the production chain runs gate → CLASSIFIER → dedups →
    // decontaminate → sample (Penedo et al. 2024 §3): stage 2 trains
    // the q311 probe ON THE LEDGER'S INPUT (gate label at the Zipf
    // domain's ml floor 2.0 — the q317 tuning) and keeps the gate
    // survivors the model scores >= 0.5. The probe distills the gate
    // from the 21 features alone, so a handful of gate-passers score
    // under threshold (feature-atypical positives) — a genuinely
    // non-vacuous drop, not a re-application of stage 1. Oracle: the
    // q317 chain with q311's unrolled GD CTEs embedded (trained on the
    // inp CTE), the model stage restated as the same mscore >= 0.5
    // join. Scale shape: q317's argument per stage, plus the trainer's
    // — featurize once, aggregate-only rounds; each stage still runs
    // the proven operator's plan on a shrinking checkpointed frame.
    "q322_pipeline_yield_model" -> { (s, dir) =>
      import s.implicits._
      val zdocs = ZipfContracts.familyDocs(s, dir)
        .transform(graft.Checkpoints.ckpt)
      val donorId = when(col("doc_id") % 9 === 5 && col("doc_id") >= 5,
        col("doc_id") - 5)
        .when(col("doc_id") % 11 === 3,
          col("doc_id") - col("doc_id") % 20)
      val donors = zdocs.select(col("doc_id").as("donor_id"),
        col("text").as("donor_text"))
      val input = zdocs.filter(col("source") =!= "src0")
        .withColumn("donor_id", donorId)
        .join(donors, Seq("donor_id"), "left")
        .select(col("doc_id"), col("source"),
          coalesce(col("donor_text"), col("text")).as("text"))
        .transform(graft.Checkpoints.ckpt)
      val tok = Tokens.words(col("text"))
      val n = size(tok)
      val sumLen = aggregate(tok, lit(0L),
        (acc: Column, t: Column) => acc + length(t).cast("long"))
      val ml = sumLen.cast("double") / n.cast("double")
      val af = size(filter(tok, (t: Column) => t.rlike("[a-z]")))
        .cast("double") / n.cast("double")
      val tfr = graft.functions.NGramStats.ngramStats(col("text"), 1)
        .getField("top").cast("double") / n.cast("double")
      val pass = n.between(50, 100000) && ml.between(2.0, 10.0) &&
        af >= lit(0.8) && tfr <= lit(0.2)
      val n0 = input.count()
      val s1 = input.filter(pass).transform(graft.Checkpoints.ckpt)
      val n1 = s1.count()
      // stage 2: the trained probe over the gate survivors
      val scored = QualityClassifier.scoredDocs(input, mlLo = 2.0)
      graft.Checkpoints.free(input)
      val s2 = s1.join(scored.filter(col("score") >= 0.5)
          .select("doc_id"), Seq("doc_id"), "left_semi")
        .transform(graft.Checkpoints.ckpt)
      val n2 = s2.count()
      graft.Checkpoints.free(scored)
      graft.Checkpoints.free(s1)
      val wT = org.apache.spark.sql.expressions.Window
        .partitionBy(md5(col("text").cast("binary")))
        .orderBy(col("doc_id"))
      val s3 = s2.withColumn("_rn", row_number().over(wT))
        .filter(col("_rn") === 1).drop("_rn").transform(graft.Checkpoints.ckpt)
      val n3 = s3.count()
      graft.Checkpoints.free(s2)
      val cc = DedupQueries.nearDupClusters(s3)
      val s4 = s3.join(cc.filter(col("id") =!= col("label"))
        .select(col("id").as("doc_id")), Seq("doc_id"), "left_anti")
        .transform(graft.Checkpoints.ckpt)
      val n4 = s4.count()
      graft.Checkpoints.free(s3)
      val sh5 = graft.functions.ShingleHashes.shingleHashes(col("text"), 5)
      val evalSh = zdocs.filter(col("source") === "src0")
        .select(explode(sh5).as("h")).distinct()
      val cont = s4.select(col("doc_id"), explode(sh5).as("h"))
        .join(evalSh, "h").select("doc_id").distinct()
      val s5 = s4.join(cont, Seq("doc_id"), "left_anti").transform(graft.Checkpoints.ckpt)
      val n5 = s5.count()
      graft.Checkpoints.free(s4)
      graft.Checkpoints.free(zdocs)
      val wS = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source"))
        .orderBy(md5(concat(lit("q322:"), col("doc_id").cast("string"))
          .cast("binary")).asc, col("doc_id").asc)
      val n6 = s5.withColumn("rk", row_number().over(wS))
        .filter(col("rk") <= 7).count()
      graft.Checkpoints.free(s5)
      Seq(("1_gate", n0, n1), ("2_classifier", n1, n2),
        ("3_exact_dedup", n2, n3), ("4_near_dedup", n3, n4),
        ("5_decontaminate", n4, n5), ("6_sample", n5, n6))
        .toDF("stage", "n_in", "n_kept")
        .withColumn("n_dropped", col("n_in") - col("n_kept"))
        .orderBy("stage")
    },

    "q223_rejection_census" -> { (s, dir) =>
      val wAll = Window.partitionBy(lit(0))
      val frag = concat(
        when(col("n_words") < 60, lit("+too_short")).otherwise(lit("")),
        when(col("n_words") > 100, lit("+too_long")).otherwise(lit("")),
        when(col("top_cnt") * 5 >= col("n_words"), lit("+top_heavy"))
          .otherwise(lit("")),
        when(col("n_distinct") * 2 < col("n_words"),
          lit("+low_diversity")).otherwise(lit("")))
      Tables.t(s, dir, "documents")
        .withColumn("st",
          graft.functions.NGramStats.ngramStats(col("text"), 1))
        .select(col("doc_id"), col("st.total").as("n_words"),
          col("st.distinct").as("n_distinct"),
          col("st.top").as("top_cnt"))
        .withColumn("frag", frag)
        .withColumn("reason", when(col("frag") === "", lit("admitted"))
          .otherwise(expr("substring(frag, 2)")))
        .groupBy(col("reason"))
        .agg(count(lit(1)).as("n_docs"))
        .withColumn("share",
          round(col("n_docs").cast("double") /
            sum(col("n_docs")).over(wAll).cast("double"), 10) + lit(0.0))
        .orderBy("reason")
    },

    // Boilerplate span census — the C4/CCNet cleaning signal at
    // SLIDING-window grain (q96's span dedup rewrites CHUNKED 20-token
    // spans; this CENSUSES every overlapping 8-token run to find the
    // nav-footer / license-blurb runs that repeat across many
    // documents — sliding, because boilerplate does not align to chunk
    // boundaries): any 8-token run appearing in ≥ 3 distinct documents
    // is boilerplate. Scale shape: the shingle explode is scan-local
    // (≤ |doc| shingles per doc); ONE shingle-keyed aggregation
    // carries (n_docs, n_total) — hot boilerplate concentrates on few
    // keys but that skewed tail IS the wanted readout, and the output
    // is filtered to it. At 100 TB the key becomes a 128-bit hash with
    // text re-attached to the tiny result by one join.
    "q239_boilerplate_spans" -> { (s, dir) =>
      val tok = Tokens.words(col("text"))
      Tables.t(s, dir, "documents")
        .select(col("doc_id"), tok.as("tok"))
        .filter(size(col("tok")) >= 8)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, size(tok) - 7), " +
            "i -> array_join(slice(tok, i, 8), ' '))")).as("sh"))
        .groupBy(col("sh"))
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_total"))
        .filter(col("n_docs") >= 3)
        .orderBy(col("n_docs").desc, col("sh"))
    },

    // Per-document boilerplate share — q239 turned around: what
    // fraction of each document's 8-token runs are corpus boilerplate?
    // High share = templated page worth dropping even if its body text
    // passes quality gates. The shingle frame builds once per query;
    // the boilerplate set (a LEFT SEMI-joinable key set) is the q239
    // census reused as a derived table — a shingle-keyed join, never
    // doc×doc. Output is one row per document with exact counts and
    // one share division.
    "q240_boilerplate_share" -> { (s, dir) =>
      val tok = Tokens.words(col("text"))
      val sh = Tables.t(s, dir, "documents")
        .select(col("doc_id"), tok.as("tok"))
        .filter(size(col("tok")) >= 8)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, size(tok) - 7), " +
            "i -> array_join(slice(tok, i, 8), ' '))")).as("sh"))
      val boiler = sh.groupBy(col("sh"))
        .agg(countDistinct(col("doc_id")).as("nd"))
        .filter(col("nd") >= 3)
        .select(col("sh"))
      sh.join(boiler, Seq("sh"), "left_semi")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_boiler"))
        .join(sh.groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_spans")), Seq("doc_id"), "right")
        .select(col("doc_id"), col("n_spans"),
          coalesce(col("n_boiler"), lit(0L)).as("n_boiler"),
          (round(coalesce(col("n_boiler"), lit(0L)).cast("double") /
            col("n_spans").cast("double"), 10) + lit(0.0))
            .as("boiler_share"))
        .orderBy("doc_id")
    },

    // DSIR importance weights (Xie et al. 2023, "Data Selection for
    // Language Models via Importance Resampling") — THE principled
    // domain-targeting selector: score every raw-pool document by the
    // log-likelihood ratio of a TARGET-domain hashed-bigram LM over a
    // RAW-pool one, then resample the raw pool by those weights. Here
    // the target is sources src0-src3, the raw pool everything else,
    // bigrams hash into 4096 buckets (DSIR's hashed n-gram trick: the
    // LMs are FIXED-size however large the corpora), both LMs are add-1
    // smoothed exact-integer counts, and the output is the top-25 raw
    // docs the resampler would pull first. Scale shape: ONE bigram
    // explode feeds both LM counts and the per-doc scoring join; the
    // 4096-row log-ratio table broadcasts; per-doc weights close on the
    // doc key with a scale-18 carry. Determinism: counts exact, one ln
    // per bucket, ties broken by doc_id.
    "q263_dsir_weights" -> { (s, dir) =>
      val B = 4096L
      val tgt = Seq("src0", "src1", "src2", "src3")
      val bg = Tables.t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          Tokens.words(col("text")).as("tok"))
        .filter(size(col("tok")) >= 2)
        .select(col("doc_id"), col("source"), explode(expr(
          "transform(sequence(1, size(tok) - 1), " +
            "i -> concat(element_at(tok, i), ' ', element_at(tok, i + 1)))"))
          .as("g"))
        .withColumn("b", conv(substring(md5(col("g").cast("binary")), 1, 4),
          16, 10).cast("long") % B)
      val isT = col("source").isin(tgt: _*)
      val counts = bg.groupBy(col("b"))
        .agg(sum(when(isT, 1L).otherwise(0L)).as("ct"),
          sum(when(!isT, 1L).otherwise(0L)).as("cr"))
      val tot = counts.agg(sum(col("ct")).as("nt"), sum(col("cr")).as("nr"))
      val lnr = counts.crossJoin(broadcast(tot))
        .select(col("b"),
          (log((col("ct") + lit(1L)).cast("double") /
            (col("nt") + lit(B)).cast("double")) -
            log((col("cr") + lit(1L)).cast("double") /
              (col("nr") + lit(B)).cast("double"))).as("lnr"))
      bg.filter(!isT)
        .join(broadcast(lnr), Seq("b"))
        .groupBy(col("doc_id"), col("source"))
        .agg(count(lit(1)).as("n_bigrams"),
          graft.Fns.dsum18(col("lnr")).as("w"))
        .select(col("doc_id"), col("source"), col("n_bigrams"),
          (round(col("w"), 6) + lit(0.0)).as("dsir_weight"))
        .orderBy(col("dsir_weight").desc, col("doc_id")).limit(25)
    })

  /** q135's entropy body over any (source, t) token stream. */
  def tokenEntropyOf(tokens: DataFrame): DataFrame = {
    val cs = tokens
      .groupBy(col("source"), col("t")).agg(count(lit(1)).as("c_st"))
    val wS = Window.partitionBy(col("source"))
    val p = col("c_st").cast("double") / col("n_s").cast("double")
    cs.withColumn("n_s", sum(col("c_st")).over(wS))
      .select(col("source"), col("n_s"), (-p * log(p)).as("summand"))
      .groupBy(col("source"), col("n_s").as("n_tokens"))
      .agg(count(lit(1)).as("vocab"),
        graft.Fns.dsum18(col("summand")).as("entropy"))
      .select(col("source"), col("n_tokens"), col("vocab"), col("entropy"))
      .orderBy("source")
  }

  /** q145's coverage-point body over any (source, t) token stream. */
  def vocabCoverageOf(tokens: DataFrame): DataFrame = {
    val wR = Window.partitionBy(col("source"))
      .orderBy(col("c").desc, col("t").asc)
    val wCum = Window.partitionBy(col("source"))
      .orderBy(col("c").desc, col("t").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wS = Window.partitionBy(col("source"))
    def kAt(pct: Int): Column =
      min(when(col("cum") * 100 >= lit(pct.toLong) * col("tot"),
        col("r"))).as(s"k$pct")
    tokens
      .groupBy(col("source"), col("t")).agg(count(lit(1)).as("c"))
      .select(col("source"),
        row_number().over(wR).cast("long").as("r"),
        sum(col("c")).over(wCum).as("cum"),
        sum(col("c")).over(wS).as("tot"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("vocab"), kAt(50), kAt(90), kAt(99))
      .orderBy("source")
  }

  /** q301's merge-round count: fixed k, the operator's own parameter
    * (BPE trains "until vocab size V" = a fixed number of merges). */
  val BpeRounds = 8

  /** Iterative BPE trainer (Sennrich et al. 2016, Algorithm 1): k merge
    * ROUNDS over the distinct-word frequency table. State is the
    * vocabulary's current segmentation (word, freq, toks) — VOCAB-sized;
    * the corpus is touched exactly once, by the caller's word count.
    * Per round: adjacent-pair counts (one vocab-keyed shuffle), a 1-row
    * argmax (count desc, then the low-separator concat l||CHR(2)||r asc
    * — identical to (l, r) tuple order because CHR(2) sorts below every
    * token character, and spelled the same way in the oracle so ties
    * break identically in both engines), then the greedy left-to-right
    * merge applied as a scan-local array fold: "if last emitted == l
    * and current == r, replace last with l||r, else append". That fold
    * IS Sennrich's non-overlapping scan — on a run "aaaaa" with merge
    * (a,a) it yields [aa,aa,a], never re-merging a token formed this
    * round, because l||r can never equal l while r is non-empty. The
    * fold is a Catalyst `aggregate` HOF — no UDF; the 1-row best is
    * attached with a broadcast LEFT join (state survives a round with
    * no remaining pairs, which then contributes no merge row in either
    * engine). Each round rolls one localCheckpoint (the q107/q71/q292
    * iterative shape — state is referenced twice per round, pair count
    * + merge, so an un-checkpointed k-round DAG doubles the state
    * subtree per round). The oracle unrolls the same k rounds as CTEs
    * and spells the greedy scan RELATIONALLY (match positions → runs of
    * consecutive matches → keep odd ranks → rebuild with LIST ORDER BY)
    * — an independent second spelling of the same semantics, so a fold
    * bug and an SQL bug cannot cancel. Scale shape: after the initial
    * word count every stage is bounded by the DISTINCT vocabulary and
    * its symbol count, never the corpus — at 100 TB the k rounds run on
    * a frame millions of times smaller than the input. Reference scope:
    * tokenizer-prep sits beside the corpus pipeline the reference seeds
    * (pyopenetl/pipelines.py:1-60 moves corpora; training prep is the
    * §2.3 extension surface).
    */
  /** The shared k-round core: returns the per-round 1-row argmax frames
    * (checkpointed — 1 row each, freed by the harness's freeingAfter)
    * and the FINAL segmentation state with all k merges applied. */
  private def bpeCore(words: DataFrame,
                      rounds: Int): (Seq[DataFrame], DataFrame) = {
    require(rounds >= 1, s"bpe needs at least one round, got $rounds")
    var state = words
      .select(col("word"), col("freq"),
        filter(split(col("word"), ""), t => t =!= "").as("toks"))
      .transform(graft.Checkpoints.ckpt)
    val merges = Seq.newBuilder[DataFrame]
    for (r <- 1 to rounds) {
      val best = state.filter(size(col("toks")) >= 2)
        .select(col("freq"), explode(transform(
          sequence(lit(1), size(col("toks")) - 1),
          i => struct(element_at(col("toks"), i).as("l"),
            element_at(col("toks"), i + 1).as("r")))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("freq")).as("pair_count"))
        .orderBy(col("pair_count").desc,
          concat(col("l"), lit("\u0002"), col("r")).asc)
        .limit(1)
        .transform(graft.Checkpoints.ckpt)
      merges += best.select(lit(r).as("merge_round"), col("l"), col("r"),
        col("pair_count"))
      val next = state
        .join(broadcast(best.select(col("l"), col("r"))), lit(true), "left")
        .select(col("word"), col("freq"),
          when(col("l").isNotNull && size(col("toks")) >= 2,
            aggregate(
              slice(col("toks"), lit(2), size(col("toks")) - 1),
              slice(col("toks"), 1, 1),
              (acc, t) => when(
                element_at(acc, -1) === col("l") && t === col("r"),
                concat(slice(acc, lit(1), size(acc) - 1),
                  array(concat(col("l"), col("r")))))
                .otherwise(concat(acc, array(t)))))
            .otherwise(col("toks")).as("toks"))
      state = graft.Checkpoints.roll(next, state)
    }
    (merges.result(), state)
  }

  def bpeTrain(words: DataFrame, rounds: Int): DataFrame = {
    val (merges, state) = bpeCore(words, rounds)
    graft.Checkpoints.free(state)
    merges.reduce(_ unionAll _)
      .select(col("merge_round"), col("l").as("left_sym"),
        col("r").as("right_sym"), concat(col("l"), col("r")).as("merged"),
        col("pair_count"))
      .orderBy("merge_round")
  }

  /** The ENCODE half of the q301 pair — the consumer of the trained
    * merge table: after the same k merges, the core's final state IS
    * each vocabulary word's BPE segmentation (applying merges in
    * training order to the training vocabulary is exactly how
    * production tokenizers materialize their word→pieces cache). Emits
    * per word the piece count and the pieces themselves — the
    * fertility denominator the q72-family stats consume. Same scale
    * shape as the trainer: vocab-bounded after the one corpus word
    * count; the oracle extends q301's unrolled CTEs one state further
    * and reads the final segmentation.
    */
  def bpeEncode(words: DataFrame, rounds: Int): DataFrame = {
    val (_, state) = bpeCore(words, rounds)
    state.select(col("word"), col("freq"),
        size(col("toks")).cast("long").as("n_pieces"),
        array_join(col("toks"), " ").as("pieces"))
      .orderBy("word")
  }

  /** q301/q310's oracle text: the same k rounds unrolled as CTEs (see
    * bpeTrain's doc for why the merge is spelled relationally here).
    * `finalState = true` carries the merge application through round k
    * and reads the resulting segmentation (q310); false stops at round
    * k's argmax and reads the merge table (q301 — the last application
    * cannot change the table). */
  private def bpeOracle(rounds: Int, finalState: Boolean): String = {
    val head =
      """WITH f AS MATERIALIZED (
        |  SELECT word, COUNT(*) AS freq
        |  FROM (SELECT UNNEST(STRING_SPLIT(text, ' ')) AS word
        |        FROM documents)
        |  WHERE LENGTH(word) >= 2 GROUP BY word),
        |s0 AS MATERIALIZED (
        |  SELECT word, freq,
        |    LIST_TRANSFORM(RANGE(1, LENGTH(word) + 1),
        |      i -> SUBSTRING(word, i, 1)) AS toks
        |  FROM f)""".stripMargin
    val steps = (1 to rounds).map { r =>
      val findBest =
        s"""p$r AS MATERIALIZED (
           |  SELECT u.l AS l, u.r AS r, CAST(SUM(freq) AS BIGINT) AS pair_count
           |  FROM (
           |    SELECT freq, UNNEST(LIST_TRANSFORM(RANGE(1, LEN(toks)),
           |      i -> {'l': toks[i], 'r': toks[i + 1]})) AS u
           |    FROM s${r - 1} WHERE LEN(toks) >= 2)
           |  GROUP BY u.l, u.r),
           |b$r AS MATERIALIZED (
           |  SELECT l, r, pair_count FROM p$r
           |  ORDER BY pair_count DESC, l || CHR(2) || r ASC LIMIT 1)""".stripMargin
      val applyMerge =
        s"""t$r AS MATERIALIZED (
           |  SELECT word, freq, u.i AS i, u.tok AS tok
           |  FROM (SELECT word, freq,
           |      UNNEST(LIST_TRANSFORM(RANGE(1, LEN(toks) + 1),
           |        i -> {'i': i, 'tok': toks[i]})) AS u
           |    FROM s${r - 1})),
           |m$r AS MATERIALIZED (
           |  SELECT a.word, a.i FROM t$r a JOIN t$r c
           |    ON a.word = c.word AND c.i = a.i + 1
           |  WHERE a.tok = (SELECT l FROM b$r)
           |    AND c.tok = (SELECT r FROM b$r)),
           |k$r AS MATERIALIZED (
           |  SELECT word, i FROM (
           |    SELECT word, i, ROW_NUMBER() OVER (
           |        PARTITION BY word, run ORDER BY i) AS rn
           |    FROM (SELECT word, i,
           |        i - ROW_NUMBER() OVER (PARTITION BY word ORDER BY i) AS run
           |      FROM m$r))
           |  WHERE rn % 2 = 1),
           |s$r AS MATERIALIZED (
           |  SELECT t.word, t.freq,
           |    LIST(CASE WHEN k.i IS NOT NULL
           |      THEN (SELECT l FROM b$r) || (SELECT r FROM b$r)
           |      ELSE t.tok END ORDER BY t.i) AS toks
           |  FROM t$r t
           |  LEFT JOIN k$r k ON t.word = k.word AND t.i = k.i
           |  LEFT JOIN k$r q ON t.word = q.word AND t.i = q.i + 1
           |  WHERE q.i IS NULL
           |  GROUP BY t.word, t.freq)""".stripMargin
      if (r == rounds && !finalState) findBest
      else findBest + ",\n" + applyMerge
    }
    val tail =
      if (finalState)
        s"""SELECT word, freq, CAST(LEN(toks) AS BIGINT) AS n_pieces,
           |  ARRAY_TO_STRING(toks, ' ') AS pieces
           |FROM s$rounds ORDER BY word""".stripMargin
      else {
        val union = (1 to rounds)
          .map(r => s"  SELECT $r AS merge_round, l, r, pair_count FROM b$r")
          .mkString("\n  UNION ALL\n")
        s"""SELECT merge_round, l AS left_sym, r AS right_sym,
           |  l || r AS merged, pair_count
           |FROM (
           |$union)
           |ORDER BY merge_round""".stripMargin
      }
    head + ",\n" + steps.mkString(",\n") + "\n" + tail
  }

  override def oracles: Map[String, String] = Map(
    "q301_bpe_train" -> bpeOracle(BpeRounds, finalState = false),
    "q310_bpe_encode" -> bpeOracle(BpeRounds, finalState = true),

    // the whole chain restated: plant, gate, first-id-per-text dedup,
    // reachability-fixpoint near-dedup, shingle decontamination, quota
    // sample — each stage a CTE over the previous stage's survivors
    "q317_pipeline_yield" ->
      s"""WITH RECURSIVE zft AS MATERIALIZED (
        |${TextQueries.ZipfFamilyTokensSql}),
        |zd AS MATERIALIZED (
        |  SELECT doc_id, source,
        |    ARRAY_TO_STRING(LIST(t ORDER BY j), ' ') AS text
        |  FROM zft GROUP BY 1, 2),
        |inp AS MATERIALIZED (
        |  SELECT d.doc_id, d.source, COALESCE(dn.text, d.text) AS text
        |  FROM zd d
        |  LEFT JOIN zd dn ON dn.doc_id =
        |    CASE WHEN d.doc_id % 9 = 5 AND d.doc_id >= 5
        |           THEN d.doc_id - 5
        |         WHEN d.doc_id % 11 = 3
        |           THEN d.doc_id - d.doc_id % 20
        |         ELSE NULL END
        |  WHERE d.source <> 'src0'),
        |g AS (
        |  SELECT doc_id, source, text, STRING_SPLIT(text, ' ') AS tok
        |  FROM inp),
        |m AS (
        |  SELECT doc_id, source, text,
        |    CAST(LEN(tok) AS BIGINT) AS n,
        |    CAST(LIST_SUM(LIST_TRANSFORM(tok, t -> LENGTH(t))) AS DOUBLE)
        |      / LEN(tok) AS ml,
        |    CAST(LEN(LIST_FILTER(tok,
        |      t -> REGEXP_MATCHES(t, '[a-z]'))) AS DOUBLE)
        |      / LEN(tok) AS af,
        |    CAST(LIST_MAX(LIST_TRANSFORM(LIST_DISTINCT(tok),
        |      u -> LEN(LIST_FILTER(tok, t -> t = u)))) AS DOUBLE)
        |      / LEN(tok) AS tfr
        |  FROM g),
        |s1 AS MATERIALIZED (
        |  SELECT doc_id, source, text FROM m
        |  WHERE n BETWEEN 50 AND 100000 AND ml BETWEEN 2.0 AND 10.0
        |    AND af >= 0.8 AND tfr <= 0.2),
        |s2 AS MATERIALIZED (
        |  SELECT doc_id, source, text FROM (
        |    SELECT doc_id, source, text,
        |      ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        |    FROM s1) WHERE rn = 1),
        |d2 AS (
        |  SELECT doc_id, source, LIST_DISTINCT(STRING_SPLIT(text, ' '))
        |    AS tok
        |  FROM s2),
        |t2 AS (
        |  SELECT source, doc_id, CAST(LEN(tok) AS BIGINT) AS ntok,
        |    UNNEST(tok) AS token
        |  FROM d2),
        |c2 AS (
        |  SELECT a.source, a.doc_id AS a_id, a.ntok AS a_n,
        |    b.doc_id AS b_id, b.ntok AS b_n, COUNT(*) AS nc
        |  FROM t2 a JOIN t2 b
        |    ON a.source = b.source AND a.token = b.token
        |   AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2, 3, 4, 5),
        |p2 AS (
        |  SELECT a_id, b_id FROM c2
        |  WHERE CAST(nc AS DOUBLE) / (a_n + b_n - nc) >= 0.6),
        |e AS (
        |  SELECT a_id AS src, b_id AS dst FROM p2
        |  UNION ALL SELECT b_id, a_id FROM p2),
        |nodes AS (SELECT DISTINCT src AS id FROM e),
        |reach AS (
        |  SELECT id, id AS r FROM nodes
        |  UNION
        |  SELECT e.dst AS id, reach.r FROM reach JOIN e ON e.src = reach.id),
        |drop3 AS (SELECT id FROM reach GROUP BY id HAVING id <> MIN(r)),
        |s3 AS MATERIALIZED (
        |  SELECT * FROM s2
        |  WHERE doc_id NOT IN (SELECT id FROM drop3)),
        |sh3 AS (
        |  SELECT doc_id, UNNEST(LIST_TRANSFORM(RANGE(1, LEN(tok) - 3),
        |    i -> ARRAY_TO_STRING(tok[i:i+4], ' '))) AS sht
        |  FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS tok FROM s3)
        |  WHERE LEN(tok) >= 5),
        |ev AS (
        |  SELECT DISTINCT UNNEST(LIST_TRANSFORM(RANGE(1, LEN(tok) - 3),
        |    i -> ARRAY_TO_STRING(tok[i:i+4], ' '))) AS sht
        |  FROM (SELECT STRING_SPLIT(text, ' ') AS tok FROM zd
        |        WHERE source = 'src0')
        |  WHERE LEN(tok) >= 5),
        |cont AS (
        |  SELECT DISTINCT sh3.doc_id FROM sh3 JOIN ev USING (sht)),
        |s4 AS MATERIALIZED (
        |  SELECT * FROM s3
        |  WHERE doc_id NOT IN (SELECT doc_id FROM cont)),
        |s5 AS (
        |  SELECT doc_id FROM (
        |    SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY MD5('q317:' || CAST(doc_id AS VARCHAR)) ASC,
        |               doc_id ASC) AS rk
        |    FROM s4) WHERE rk <= 7)
        |SELECT stage, n_in, n_kept, n_in - n_kept AS n_dropped FROM (
        |  SELECT '1_gate' AS stage,
        |    (SELECT COUNT(*) FROM inp) AS n_in,
        |    (SELECT COUNT(*) FROM s1) AS n_kept
        |  UNION ALL SELECT '2_exact_dedup',
        |    (SELECT COUNT(*) FROM s1), (SELECT COUNT(*) FROM s2)
        |  UNION ALL SELECT '3_near_dedup',
        |    (SELECT COUNT(*) FROM s2), (SELECT COUNT(*) FROM s3)
        |  UNION ALL SELECT '4_decontaminate',
        |    (SELECT COUNT(*) FROM s3), (SELECT COUNT(*) FROM s4)
        |  UNION ALL SELECT '5_sample',
        |    (SELECT COUNT(*) FROM s4), (SELECT COUNT(*) FROM s5))
        |ORDER BY stage""".stripMargin,

    // the q317 chain + q311's unrolled GD CTEs trained on the inp CTE;
    // the model stage is the mscore >= 0.5 join on stage-1 survivors
    "q322_pipeline_yield_model" ->
      (s"""WITH RECURSIVE zft AS MATERIALIZED (
        |${TextQueries.ZipfFamilyTokensSql}),
        |zd AS MATERIALIZED (
        |  SELECT doc_id, source,
        |    ARRAY_TO_STRING(LIST(t ORDER BY j), ' ') AS text
        |  FROM zft GROUP BY 1, 2),
        |inp AS MATERIALIZED (
        |  SELECT d.doc_id, d.source, COALESCE(dn.text, d.text) AS text
        |  FROM zd d
        |  LEFT JOIN zd dn ON dn.doc_id =
        |    CASE WHEN d.doc_id % 9 = 5 AND d.doc_id >= 5
        |           THEN d.doc_id - 5
        |         WHEN d.doc_id % 11 = 3
        |           THEN d.doc_id - d.doc_id % 20
        |         ELSE NULL END
        |  WHERE d.source <> 'src0'),
        |""".stripMargin +
        QualityClassifier.chainFrom(QualityClassifier.Rounds,
          split = false, docsRel = "inp", mlLo = "2.0",
          standalone = false) +
        QualityClassifier.modelScoreSql + s""",
        |s1 AS MATERIALIZED (
        |  SELECT i.doc_id, i.source, i.text
        |  FROM inp i JOIN y USING (doc_id) WHERE y.y = 1.0),
        |s2 AS MATERIALIZED (
        |  SELECT s1.doc_id, s1.source, s1.text
        |  FROM s1 JOIN mscore USING (doc_id) WHERE mscore.score >= 0.5),
        |s3 AS MATERIALIZED (
        |  SELECT doc_id, source, text FROM (
        |    SELECT doc_id, source, text,
        |      ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        |    FROM s2) WHERE rn = 1),
        |dnd AS (
        |  SELECT doc_id, source, LIST_DISTINCT(STRING_SPLIT(text, ' '))
        |    AS tok
        |  FROM s3),
        |tnd AS (
        |  SELECT source, doc_id, CAST(LEN(tok) AS BIGINT) AS ntok,
        |    UNNEST(tok) AS token
        |  FROM dnd),
        |cnd AS (
        |  SELECT a.source, a.doc_id AS a_id, a.ntok AS a_n,
        |    b.doc_id AS b_id, b.ntok AS b_n, COUNT(*) AS nc
        |  FROM tnd a JOIN tnd b
        |    ON a.source = b.source AND a.token = b.token
        |   AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2, 3, 4, 5),
        |pnd AS (
        |  SELECT a_id, b_id FROM cnd
        |  WHERE CAST(nc AS DOUBLE) / (a_n + b_n - nc) >= 0.6),
        |e AS (
        |  SELECT a_id AS src, b_id AS dst FROM pnd
        |  UNION ALL SELECT b_id, a_id FROM pnd),
        |nodes AS (SELECT DISTINCT src AS id FROM e),
        |reach AS (
        |  SELECT id, id AS r FROM nodes
        |  UNION
        |  SELECT e.dst AS id, reach.r FROM reach JOIN e ON e.src = reach.id),
        |dropn AS (SELECT id FROM reach GROUP BY id HAVING id <> MIN(r)),
        |s4 AS MATERIALIZED (
        |  SELECT * FROM s3
        |  WHERE doc_id NOT IN (SELECT id FROM dropn)),
        |shd AS (
        |  SELECT doc_id, UNNEST(LIST_TRANSFORM(RANGE(1, LEN(tok) - 3),
        |    i -> ARRAY_TO_STRING(tok[i:i+4], ' '))) AS sht
        |  FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS tok FROM s4)
        |  WHERE LEN(tok) >= 5),
        |ev AS (
        |  SELECT DISTINCT UNNEST(LIST_TRANSFORM(RANGE(1, LEN(tok) - 3),
        |    i -> ARRAY_TO_STRING(tok[i:i+4], ' '))) AS sht
        |  FROM (SELECT STRING_SPLIT(text, ' ') AS tok FROM zd
        |        WHERE source = 'src0')
        |  WHERE LEN(tok) >= 5),
        |cont AS (
        |  SELECT DISTINCT shd.doc_id FROM shd JOIN ev USING (sht)),
        |s5 AS MATERIALIZED (
        |  SELECT * FROM s4
        |  WHERE doc_id NOT IN (SELECT doc_id FROM cont)),
        |s6 AS (
        |  SELECT doc_id FROM (
        |    SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY MD5('q322:' || CAST(doc_id AS VARCHAR)) ASC,
        |               doc_id ASC) AS rk
        |    FROM s5) WHERE rk <= 7)
        |SELECT stage, n_in, n_kept, n_in - n_kept AS n_dropped FROM (
        |  SELECT '1_gate' AS stage,
        |    (SELECT COUNT(*) FROM inp) AS n_in,
        |    (SELECT COUNT(*) FROM s1) AS n_kept
        |  UNION ALL SELECT '2_classifier',
        |    (SELECT COUNT(*) FROM s1), (SELECT COUNT(*) FROM s2)
        |  UNION ALL SELECT '3_exact_dedup',
        |    (SELECT COUNT(*) FROM s2), (SELECT COUNT(*) FROM s3)
        |  UNION ALL SELECT '4_near_dedup',
        |    (SELECT COUNT(*) FROM s3), (SELECT COUNT(*) FROM s4)
        |  UNION ALL SELECT '5_decontaminate',
        |    (SELECT COUNT(*) FROM s4), (SELECT COUNT(*) FROM s5)
        |  UNION ALL SELECT '6_sample',
        |    (SELECT COUNT(*) FROM s5), (SELECT COUNT(*) FROM s6))
        |ORDER BY stage""").stripMargin,
    "q112_distinctive_terms" ->
      """WITH tok AS (
        |  SELECT source, UNNEST(STRING_SPLIT(text, ' ')) AS t
        |  FROM documents),
        |cs AS (SELECT source, t, COUNT(*) AS c_st FROM tok GROUP BY 1, 2),
        |ct AS (SELECT t, SUM(c_st) AS c_t FROM cs GROUP BY 1),
        |ns AS (SELECT source, SUM(c_st) AS n_s FROM cs GROUP BY 1),
        |n AS (SELECT SUM(c_t) AS n FROM ct),
        |sc AS (
        |  SELECT cs.source, cs.t, c_st,
        |    LN(CAST(c_st + 1 AS DOUBLE)
        |        / CAST(n_s - c_st + 1 AS DOUBLE))
        |    - LN(CAST(c_t - c_st + 1 AS DOUBLE)
        |        / CAST(n - n_s - c_t + c_st + 1 AS DOUBLE)) AS score
        |  FROM cs JOIN ct USING (t) JOIN ns USING (source) CROSS JOIN n),
        |r AS (
        |  SELECT source, t, c_st, score,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |                       ORDER BY score DESC, t ASC) AS rnk
        |  FROM sc)
        |SELECT source, t AS term, c_st, ROUND(score, 4) AS log_odds,
        |  CAST(rnk AS INTEGER) AS rnk
        |FROM r WHERE rnk <= 5 ORDER BY source, rnk""".stripMargin,

    // quality spelled exactly as q33's oracle; the accept test reuses
    // q64's md5-bucket spelling against quality² * 65536
    "q115_importance_sample" ->
      """WITH d AS (
        |  SELECT doc_id, source, STRING_SPLIT(text, ' ') AS tok
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, source,
        |    CAST(LEN(LIST_DISTINCT(tok)) AS DOUBLE) / LEN(tok) * 0.5
        |      + (1.0 - CAST(LEN(LIST_FILTER(tok,
        |          t -> t IN ('the','a','of','and','to'))) AS DOUBLE)
        |            / LEN(tok)) * 0.5 AS quality
        |  FROM d)
        |SELECT doc_id, source, ROUND(quality, 4) AS quality
        |FROM m
        |WHERE CAST(('0x' || SUBSTRING(MD5(CAST(doc_id AS VARCHAR)), 1, 4))
        |        AS BIGINT)
        |  < quality * quality * 65536.0
        |ORDER BY doc_id""".stripMargin,

    "q116_eval_overlap" ->
      """WITH d AS (
        |  SELECT doc_id, source, STRING_SPLIT(text, ' ') AS tok
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, source,
        |    LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, LEN(tok) - 3),
        |      i -> ARRAY_TO_STRING(tok[i:i+4], ' '))) AS sh
        |  FROM d WHERE LEN(tok) >= 5),
        |ev AS (SELECT DISTINCT UNNEST(sh) AS s FROM sh
        |       WHERE source = 'src0'),
        |cand AS (SELECT doc_id, sh FROM sh
        |         WHERE source <> 'src0' AND LEN(sh) > 0),
        |tr AS (SELECT doc_id, UNNEST(sh) AS s FROM cand),
        |hits AS (
        |  SELECT doc_id, COUNT(*) AS n_hit
        |  FROM tr JOIN ev USING (s) GROUP BY 1)
        |SELECT c.doc_id, CAST(LEN(c.sh) AS BIGINT) AS n_shingles,
        |  CAST(COALESCE(n_hit, 0) AS BIGINT) AS n_overlap,
        |  ROUND(CAST(COALESCE(n_hit, 0) AS DOUBLE)
        |    / CAST(LEN(c.sh) AS DOUBLE), 4) AS contamination
        |FROM cand c LEFT JOIN hits USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "q106_source_divergence" ->
      """WITH tok AS (
        |  SELECT source, UNNEST(STRING_SPLIT(text, ' ')) AS t
        |  FROM documents),
        |cs AS (SELECT source, t, COUNT(*) AS c_st FROM tok GROUP BY 1, 2),
        |ct AS (SELECT t, SUM(c_st) AS c_t FROM cs GROUP BY 1),
        |ns AS (SELECT source, SUM(c_st) AS n_s FROM cs GROUP BY 1),
        |n AS (SELECT SUM(c_t) AS n FROM ct),
        |sm AS (
        |  SELECT cs.source,
        |    (CAST(c_st AS DOUBLE) / CAST(n_s AS DOUBLE))
        |      * LN((CAST(c_st AS DOUBLE) / CAST(n_s AS DOUBLE))
        |        / (CAST(c_t AS DOUBLE) / CAST(n AS DOUBLE))) AS summand
        |  FROM cs JOIN ct USING (t) JOIN ns USING (source) CROSS JOIN n)
        |SELECT source, COUNT(*) AS n_terms,
        |  CAST(SUM(CAST(summand AS DECIMAL(38,18))) AS DOUBLE) AS kl_div
        |FROM sm GROUP BY source ORDER BY source""".stripMargin,

    "q100_bm25_rank" ->
      """WITH tok AS (
        |  SELECT doc_id, LEN(STRING_SPLIT(text, ' ')) AS dl,
        |    UNNEST(STRING_SPLIT(text, ' ')) AS token
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, token, COUNT(*) AS tf, MAX(dl) AS dl FROM tok
        |  WHERE token IN ('join', 'filter', 'vector') GROUP BY 1, 2),
        |df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
        |stats AS (
        |  SELECT COUNT(*) AS n_docs,
        |    SUM(LEN(STRING_SPLIT(text, ' '))) AS tok_total
        |  FROM documents),
        |sc AS (
        |  SELECT tf.doc_id,
        |    LN((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
        |         / (CAST(df AS DOUBLE) + 0.5) + 1.0)
        |      * (CAST(tf AS DOUBLE) * 2.2)
        |      / (CAST(tf AS DOUBLE)
        |          + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE)
        |              / (CAST(tok_total AS DOUBLE)
        |                  / CAST(n_docs AS DOUBLE)))) AS score
        |  FROM tf JOIN df USING (token) CROSS JOIN stats)
        |SELECT doc_id, COUNT(*) AS n_terms,
        |  CAST(SUM(CAST(score AS DECIMAL(27,6))) AS DOUBLE) AS bm25
        |FROM sc GROUP BY doc_id
        |ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin,

    "q103_train_split" ->
      """SELECT doc_id, source,
        |  CASE WHEN b < 8 THEN 'train' WHEN b = 8 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM (
        |  SELECT doc_id, source,
        |    CAST(('0x' || SUBSTRING(MD5(CAST(doc_id AS VARCHAR)), 1, 4))
        |        AS BIGINT) % 10 AS b
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin,

    "q64_hash_sample" ->
      """SELECT doc_id, source, lang FROM documents
        |WHERE CAST(('0x' || SUBSTRING(MD5(CAST(doc_id AS VARCHAR)), 1, 4))
        |        AS BIGINT)
        |  < CASE source WHEN 'web' THEN 8192
        |                WHEN 'wiki' THEN 32768
        |                ELSE 16384 END
        |ORDER BY doc_id""".stripMargin,

    "q65_doc_chunks" ->
      """WITH d AS (
        |  SELECT doc_id, STRING_SPLIT(text, ' ') AS tok FROM documents),
        |starts AS (
        |  SELECT doc_id, tok,
        |    UNNEST(RANGE(1, GREATEST(LEN(tok) - 10, 1) + 1, 40)) AS start
        |  FROM d)
        |SELECT doc_id, CAST((start - 1) // 40 AS BIGINT) AS chunk_id,
        |  CAST(LEN(LIST_SLICE(tok, start, start + 49)) AS BIGINT) AS n_tokens,
        |  ARRAY_TO_STRING(LIST_SLICE(tok, start, start + 49), ' ') AS chunk_text
        |FROM starts ORDER BY doc_id, chunk_id""".stripMargin,

    "q66_clean_text" ->
      """WITH c AS (
        |  SELECT doc_id, text,
        |    TRIM(REGEXP_REPLACE(REGEXP_REPLACE(text, '<[^>]*>', ' ', 'g'),
        |      '[ \t\n\f\r]+', ' ', 'g')) AS collapsed
        |  FROM documents)
        |SELECT doc_id, LOWER(collapsed) AS clean_text,
        |  CAST(LENGTH(collapsed) AS BIGINT) AS clean_chars,
        |  CAST(LENGTH(text) - LENGTH(collapsed) AS BIGINT) AS removed_chars
        |FROM c ORDER BY doc_id""".stripMargin,

    "q68_bpe_tokens" ->
      """SELECT source, token, COUNT(*) AS n
        |FROM (SELECT source, UNNEST(REGEXP_EXTRACT_ALL(text,
        |        ' ?\p{L}+| ?\p{N}+| ?[^ \t\n\f\r\p{L}\p{N}]+|[ \t\n\f\r]+'))
        |        AS token
        |      FROM documents)
        |GROUP BY source, token ORDER BY source, token""".stripMargin,

    "q85_corpus_pipeline" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    LOWER(TRIM(REGEXP_REPLACE(
        |      REGEXP_REPLACE(text, '<[^>]*>', ' ', 'g'),
        |      '[ \t\n\f\r]+', ' ', 'g'))) AS clean_text
        |  FROM documents),
        |t AS (
        |  SELECT doc_id, clean_text,
        |    STRING_SPLIT(clean_text, ' ') AS tok
        |  FROM c),
        |q AS (
        |  SELECT doc_id, clean_text, tok
        |  FROM t
        |  WHERE LEN(tok) >= 10
        |    AND CAST(LEN(LIST_DISTINCT(tok)) AS DOUBLE) / LEN(tok) * 0.5
        |      + (1.0 - CAST(LEN(LIST_FILTER(tok,
        |          x -> x IN ('the','a','of','and','to'))) AS DOUBLE)
        |          / LEN(tok)) * 0.5 >= 0.6),
        |k AS (
        |  SELECT doc_id, tok,
        |    ROW_NUMBER() OVER (PARTITION BY MD5(clean_text)
        |                       ORDER BY doc_id) AS rn
        |  FROM q),
        |starts AS (
        |  SELECT doc_id, tok,
        |    UNNEST(RANGE(1, GREATEST(LEN(tok) - 10, 1) + 1, 40)) AS start
        |  FROM k WHERE rn = 1)
        |SELECT doc_id, CAST((start - 1) // 40 AS BIGINT) AS chunk_id,
        |  CAST(LEN(LIST_SLICE(tok, start, start + 49)) AS BIGINT) AS n_tokens,
        |  ARRAY_TO_STRING(LIST_SLICE(tok, start, start + 49), ' ')
        |    AS chunk_text
        |FROM starts ORDER BY doc_id, chunk_id""".stripMargin,

    "q67_pii_redact" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    text || ' contact user' || CAST(doc_id AS VARCHAR)
        |      || '@example.com or 555-867-'
        |      || LPAD(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS with_pii
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, with_pii,
        |    REGEXP_REPLACE(
        |      REGEXP_REPLACE(with_pii,
        |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |      '\b\d{3}-\d{3}-\d{4}\b', '[PHONE]', 'g') AS redacted
        |  FROM p)
        |SELECT doc_id, redacted,
        |  CAST(LENGTH(with_pii) - LENGTH(redacted) AS BIGINT) AS delta_chars
        |FROM r ORDER BY doc_id""".stripMargin,

    "q95_bpe_merge_stats" ->
      """WITH w AS (
        |  SELECT UNNEST(STRING_SPLIT(text, ' ')) AS word FROM documents),
        |f AS (
        |  SELECT word, COUNT(*) AS freq FROM w
        |  WHERE LENGTH(word) >= 2 GROUP BY word),
        |p AS (
        |  SELECT UNNEST(LIST_TRANSFORM(RANGE(1, LENGTH(word)), i ->
        |    SUBSTRING(word, i, 2))) AS pair, freq
        |  FROM f)
        |SELECT pair, CAST(SUM(freq) AS BIGINT) AS pair_count
        |FROM p GROUP BY pair
        |ORDER BY pair_count DESC, pair ASC LIMIT 20""".stripMargin,

    // bit-identical rate derivation (round(sqrt, 6) + exact-decimal sum)
    // and the q64 hash sampler restated over the same md5 prefix
    "q93_domain_mixture" ->
      s"""WITH c AS (
         |  SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source),
         |w AS (
         |  SELECT source, n_docs,
         |    ROUND(SQRT(CAST(n_docs AS DOUBLE)), 6) AS w
         |  FROM c),
         |t AS (SELECT ${graft.Fns.dsumSql("w")} AS w_sum FROM w),
         |r AS (
         |  SELECT source, n_docs, w / w_sum AS mix_w,
         |    LEAST(1000.0 * (w / w_sum) / CAST(n_docs AS DOUBLE), 1.0)
         |      AS keep_rate
         |  FROM w CROSS JOIN t),
         |k AS (
         |  SELECT d.source, COUNT(*) AS n_kept
         |  FROM documents d JOIN r USING (source)
         |  WHERE CAST(('0x' || SUBSTRING(MD5(CAST(doc_id AS VARCHAR)), 1, 4))
         |          AS BIGINT)
         |    < keep_rate * 65536.0
         |  GROUP BY d.source)
         |SELECT r.source, CAST(r.n_docs AS BIGINT) AS n_docs, r.mix_w,
         |  r.keep_rate, COALESCE(CAST(k.n_kept AS BIGINT), 0) AS n_kept
         |FROM r LEFT JOIN k ON r.source = k.source
         |ORDER BY r.source""".stripMargin,

    // the oracle rebuilds the bigram counts relationally (unnest ->
    // group -> aggregate) where the engine fuses them into one pass
    "q92_repetition_ngrams" ->
      """WITH d AS (
        |  SELECT doc_id, STRING_SPLIT(text, ' ') AS tok FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    UNNEST(LIST_TRANSFORM(RANGE(1, LEN(tok)), i ->
        |      ARRAY_TO_STRING(tok[i:i+1], ' '))) AS gram
        |  FROM d WHERE LEN(tok) >= 2),
        |c AS (
        |  SELECT doc_id, gram, COUNT(*) AS c FROM g GROUP BY doc_id, gram),
        |a AS (
        |  SELECT doc_id, SUM(c) AS total, COUNT(*) AS n_distinct,
        |    MAX(c) AS top, COUNT(*) FILTER (WHERE c = 1) AS singletons
        |  FROM c GROUP BY doc_id)
        |SELECT doc_id,
        |  CAST(total AS BIGINT) AS n_bigrams,
        |  CAST(n_distinct AS BIGINT) AS n_distinct,
        |  CAST(top AS BIGINT) AS top_bigram_count,
        |  CAST(top AS DOUBLE) / CAST(total AS DOUBLE) AS top_bigram_frac,
        |  CAST(total - singletons AS DOUBLE) / CAST(total AS DOUBLE)
        |    AS dup_bigram_frac
        |FROM a ORDER BY doc_id""".stripMargin,

    // the oracle states the single-window global prefix sum the two-phase
    // scan must equal exactly
    "q91_sequence_pack" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(LEN(STRING_SPLIT(text, ' ')) + 1 AS BIGINT) AS n
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n,
        |    CAST(SUM(n) OVER (ORDER BY doc_id) AS BIGINT) AS cume
        |  FROM d)
        |SELECT doc_id, n AS n_tokens,
        |  cume - n AS start_offset,
        |  (cume - n) // 512 AS first_seq,
        |  (cume - 1) // 512 AS last_seq
        |FROM c ORDER BY doc_id""".stripMargin,

    "q98_postings_index" ->
      """WITH p AS (
        |  SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS token
        |  FROM documents),
        |tfd AS (
        |  SELECT token, doc_id, COUNT(*) AS tf
        |  FROM p GROUP BY token, doc_id),
        |r AS (
        |  SELECT token, doc_id, tf,
        |    ROW_NUMBER() OVER (PARTITION BY token
        |                       ORDER BY doc_id ASC) AS rn
        |  FROM tfd)
        |SELECT token, COUNT(*) AS df,
        |  CAST(SUM(tf) AS BIGINT) AS tf_total,
        |  ARRAY_TO_STRING(LIST(CAST(doc_id AS VARCHAR) ORDER BY doc_id)
        |                    FILTER (WHERE rn <= 10), ',') AS postings_head
        |FROM r GROUP BY token HAVING COUNT(*) >= 5
        |ORDER BY token""".stripMargin,

    // the oracle ranks first occurrences over the span STRING where the
    // engine partitions by xxhash64(span) — the ranking is hash-invariant
    "q96_span_dedup" ->
      """WITH d AS (
        |  SELECT doc_id, STRING_SPLIT(text, ' ') AS tok FROM documents),
        |c AS (
        |  SELECT doc_id, tok,
        |    UNNEST(RANGE(1, LEN(tok) + 1, 20)) AS st
        |  FROM d),
        |u AS (
        |  SELECT doc_id, st,
        |    ARRAY_TO_STRING(tok[st:st+19], ' ') AS unit
        |  FROM c),
        |r AS (
        |  SELECT doc_id, st, unit,
        |    ROW_NUMBER() OVER (PARTITION BY unit
        |                       ORDER BY doc_id ASC, st ASC) AS rn
        |  FROM u)
        |SELECT doc_id, COUNT(*) AS n_spans,
        |  CAST(COUNT(*) FILTER (WHERE rn > 1) AS BIGINT) AS n_dropped,
        |  COALESCE(STRING_AGG(unit, ' ' ORDER BY st)
        |             FILTER (WHERE rn = 1), '') AS clean_text
        |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // the oracle states the EXACT decontamination (no bloom term): the
    // bloom pass only pre-filters candidates and the verify join removes
    // its false positives, so both spellings yield the identical corpus
    "q97_bloom_decontaminate" ->
      """WITH d AS (
        |  SELECT doc_id, source, STRING_SPLIT(text, ' ') AS tok
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, source,
        |    LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, LEN(tok) - 3),
        |      i -> ARRAY_TO_STRING(tok[i:i+4], ' '))) AS sh
        |  FROM d WHERE LEN(tok) >= 5),
        |ev AS (SELECT DISTINCT UNNEST(sh) AS s FROM sh
        |       WHERE source = 'src0'),
        |bad AS (
        |  SELECT DISTINCT doc_id
        |  FROM (SELECT doc_id, UNNEST(sh) AS s FROM sh
        |        WHERE source <> 'src0') tr
        |  JOIN ev USING (s))
        |SELECT doc_id, source FROM documents
        |WHERE source <> 'src0'
        |  AND doc_id NOT IN (SELECT doc_id FROM bad)
        |ORDER BY doc_id""".stripMargin,

    // the oracle joins on shingle STRINGS where the engine joins on their
    // xxhash64 values — overlap counts are hash-invariant
    "q87_decontaminate" ->
      """WITH d AS (
        |  SELECT doc_id, source, STRING_SPLIT(text, ' ') AS tok
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, source,
        |    LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, LEN(tok) - 3),
        |      i -> ARRAY_TO_STRING(tok[i:i+4], ' '))) AS sh
        |  FROM d WHERE LEN(tok) >= 5),
        |ev AS (SELECT DISTINCT UNNEST(sh) AS s FROM sh
        |       WHERE source = 'src0'),
        |tr AS (SELECT doc_id, UNNEST(sh) AS s FROM sh
        |       WHERE source <> 'src0')
        |SELECT tr.doc_id, COUNT(*) AS n_shared_shingles
        |FROM tr JOIN ev USING (s)
        |GROUP BY tr.doc_id ORDER BY doc_id""".stripMargin,

    "q88_quality_rules" ->
      """WITH d AS (
        |  SELECT doc_id, STRING_SPLIT(text, ' ') AS tok FROM documents),
        |m AS (
        |  SELECT doc_id,
        |    CAST(LEN(tok) AS BIGINT) AS n_words,
        |    CAST(LIST_SUM(LIST_TRANSFORM(tok, t -> LENGTH(t))) AS DOUBLE)
        |      / LEN(tok) AS mean_word_len,
        |    CAST(LEN(LIST_FILTER(tok,
        |      t -> REGEXP_MATCHES(t, '[a-z]'))) AS DOUBLE)
        |      / LEN(tok) AS alpha_frac,
        |    CAST(LEN(LIST_FILTER(tok,
        |      t -> t IN ('the','a','of','and','to'))) AS DOUBLE)
        |      / LEN(tok) AS stop_frac,
        |    CAST(LIST_MAX(LIST_TRANSFORM(LIST_DISTINCT(tok),
        |      u -> LEN(LIST_FILTER(tok, t -> t = u)))) AS DOUBLE)
        |      / LEN(tok) AS top_tok_frac
        |  FROM d)
        |SELECT doc_id, n_words, mean_word_len, alpha_frac, stop_frac,
        |  top_tok_frac,
        |  (n_words BETWEEN 50 AND 100000)
        |    AND (mean_word_len BETWEEN 3.0 AND 10.0)
        |    AND alpha_frac >= 0.8 AND top_tok_frac <= 0.2 AS pass_gopher
        |FROM m ORDER BY doc_id""".stripMargin,

    "q120_stratified_sample" ->
      """SELECT source, doc_id, sample_rank FROM (
        |  SELECT source, doc_id,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY MD5('q120:' || CAST(doc_id AS VARCHAR)) ASC,
        |               doc_id ASC) AS BIGINT) AS sample_rank
        |  FROM documents)
        |WHERE sample_rank <= 10
        |ORDER BY source, doc_id""".stripMargin,

    // shingles as STRINGS where the engine joins 64-bit hashes — the
    // doc counts per shingle are hash-invariant (q87's argument)
    "q121_ngram_novelty" ->
      """WITH d AS (
        |  SELECT doc_id, STRING_SPLIT(text, ' ') AS tok FROM documents
        |  WHERE LEN(STRING_SPLIT(text, ' ')) >= 3),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    UNNEST(LIST_TRANSFORM(RANGE(1, LEN(tok) - 1),
        |      i -> ARRAY_TO_STRING(tok[i:i+2], ' '))) AS s
        |  FROM d),
        |cnt AS (SELECT s, COUNT(*) AS n_docs FROM sh GROUP BY 1)
        |SELECT sh.doc_id,
        |  COUNT(*) AS n_shingles,
        |  CAST(COALESCE(SUM(CASE WHEN cnt.n_docs > 1 THEN 1 END), 0)
        |    AS BIGINT) AS n_shared,
        |  ROUND(1.0 - CAST(COALESCE(SUM(CASE WHEN cnt.n_docs > 1 THEN 1 END),
        |                            0) AS DOUBLE)
        |    / COUNT(*), 4) AS novelty
        |FROM sh JOIN cnt USING (s)
        |GROUP BY sh.doc_id ORDER BY doc_id""".stripMargin,

    // the WHOLE estimator recomputed hash-for-hash (md5-derived 48-bit
    // values cross-engine, the q254/q255 idiom): sketches, θ, union and
    // intersection estimates are bit-identical, and the 4σ envelope is
    // additionally asserted against the exact intersection
    "q288_kmv_intersection" ->
      """WITH t AS (
        |  SELECT source, STR_SPLIT(text, ' ') AS tok FROM documents),
        |grams AS MATERIALIZED (
        |  SELECT DISTINCT source,
        |    ARRAY_TO_STRING(LIST_SLICE(tok, st, st + 1), ' ') AS g
        |  FROM t, UNNEST(RANGE(1, LEN(tok))) AS u(st)
        |  WHERE LEN(tok) >= 2),
        |hashed AS (
        |  SELECT DISTINCT source,
        |    CAST(('0x' || SUBSTRING(MD5(g), 1, 12)) AS BIGINT) AS h
        |  FROM grams),
        |sk AS MATERIALIZED (
        |  SELECT source, h FROM (
        |    SELECT source, h,
        |      ROW_NUMBER() OVER (PARTITION BY source ORDER BY h ASC) AS rn
        |    FROM hashed) WHERE rn <= 256),
        |srcs AS (SELECT DISTINCT source FROM sk),
        |pairs AS (SELECT a.source AS sa, b.source AS sb
        |          FROM srcs a, srcs b WHERE a.source < b.source),
        |u AS (
        |  SELECT sa, sb, h, COUNT(*) AS nsrc FROM (
        |    SELECT p.sa, p.sb, s.h FROM pairs p JOIN sk s
        |      ON s.source = p.sa
        |    UNION ALL
        |    SELECT p.sa, p.sb, s.h FROM pairs p JOIN sk s
        |      ON s.source = p.sb)
        |  GROUP BY 1, 2, 3),
        |uk AS (
        |  SELECT * FROM (
        |    SELECT sa, sb, h, nsrc,
        |      ROW_NUMBER() OVER (PARTITION BY sa, sb ORDER BY h ASC) AS rn
        |    FROM u) WHERE rn <= 256),
        |estf AS (
        |  SELECT sa, sb, MAX(rn) AS kk, MAX(h) AS theta,
        |    CAST(SUM(CASE WHEN nsrc = 2 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS rho_num
        |  FROM uk GROUP BY 1, 2),
        |est AS (
        |  SELECT sa, sb, kk,
        |    CASE WHEN kk < 256 THEN CAST(kk AS DOUBLE)
        |         ELSE CAST(255 AS DOUBLE) * CAST(281474976710656 AS DOUBLE)
        |              / CAST(theta AS DOUBLE) END AS union_est,
        |    CAST(rho_num AS DOUBLE) / CAST(kk AS DOUBLE) AS rho
        |  FROM estf),
        |ex AS (
        |  SELECT a.source AS sa, b.source AS sb,
        |    COUNT(*) AS exact_intersection
        |  FROM grams a JOIN grams b ON a.g = b.g AND a.source < b.source
        |  GROUP BY 1, 2),
        |sizes AS (SELECT source, COUNT(*) AS nv FROM grams GROUP BY 1)
        |SELECT e.sa AS src_a, e.sb AS src_b, x.exact_intersection,
        |  ROUND(e.union_est, 4) + 0.0 AS kmv_union_est,
        |  ROUND(e.rho * e.union_est, 4) + 0.0 AS kmv_intersection_est,
        |  ABS(e.rho * e.union_est - CAST(x.exact_intersection AS DOUBLE))
        |    <= CAST(0.25 AS DOUBLE) *
        |       CAST(za.nv + zb.nv - x.exact_intersection AS DOUBLE)
        |     + CAST(1e-9 AS DOUBLE) AS within_envelope
        |FROM est e JOIN ex x ON x.sa = e.sa AND x.sb = e.sb
        |JOIN sizes za ON za.source = e.sa
        |JOIN sizes zb ON zb.source = e.sb
        |ORDER BY src_a, src_b""".stripMargin,

    "q123_source_overlap" ->
      """WITH d AS (
        |  SELECT doc_id, source, STRING_SPLIT(text, ' ') AS tok
        |  FROM documents WHERE LEN(STRING_SPLIT(text, ' ')) >= 5),
        |post AS (
        |  SELECT DISTINCT source,
        |    UNNEST(LIST_TRANSFORM(RANGE(1, LEN(tok) - 3),
        |      i -> ARRAY_TO_STRING(tok[i:i+4], ' '))) AS s
        |  FROM d)
        |SELECT a.source AS source_a, b.source AS source_b,
        |  COUNT(*) AS n_shared_shingles
        |FROM post a JOIN post b ON a.s = b.s AND a.source < b.source
        |GROUP BY 1, 2 ORDER BY source_a, source_b""".stripMargin,

    // quality spelled exactly as q115's oracle; QUANTILE_CONT is Spark
    // percentile's interpolation twin (the q104 precedent), rounded to 4
    // before the threshold compare on both sides
    "q127_curriculum" ->
      """WITH d AS (
        |  SELECT doc_id, STRING_SPLIT(text, ' ') AS tok FROM documents),
        |m AS (
        |  SELECT doc_id,
        |    CAST(LEN(LIST_DISTINCT(tok)) AS DOUBLE) / LEN(tok) * 0.5
        |      + (1.0 - CAST(LEN(LIST_FILTER(tok,
        |          t -> t IN ('the','a','of','and','to'))) AS DOUBLE)
        |            / LEN(tok)) * 0.5 AS q
        |  FROM d),
        |cuts AS (
        |  SELECT [ROUND(QUANTILE_CONT(q, 0.1), 4),
        |          ROUND(QUANTILE_CONT(q, 0.2), 4),
        |          ROUND(QUANTILE_CONT(q, 0.3), 4),
        |          ROUND(QUANTILE_CONT(q, 0.4), 4),
        |          ROUND(QUANTILE_CONT(q, 0.5), 4),
        |          ROUND(QUANTILE_CONT(q, 0.6), 4),
        |          ROUND(QUANTILE_CONT(q, 0.7), 4),
        |          ROUND(QUANTILE_CONT(q, 0.8), 4),
        |          ROUND(QUANTILE_CONT(q, 0.9), 4)] AS cuts
        |  FROM m)
        |SELECT doc_id, ROUND(q, 4) AS quality,
        |  CAST(1 + LEN(LIST_FILTER(cuts, t -> q > t)) AS BIGINT) AS bucket,
        |  MD5('q127:' || CAST(doc_id AS VARCHAR)) AS sched_key
        |FROM m CROSS JOIN cuts ORDER BY doc_id""".stripMargin,

    "q133_length_histogram" ->
      """WITH d AS (
        |  SELECT CAST(FLOOR(CAST(LEN(STRING_SPLIT(text, ' ')) AS DOUBLE)
        |        / 64.0) AS BIGINT) * 64 AS bucket,
        |    CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n
        |  FROM documents),
        |b AS (
        |  SELECT bucket, COUNT(*) AS n_docs,
        |    CAST(SUM(n) AS BIGINT) AS n_tokens
        |  FROM d GROUP BY bucket)
        |SELECT bucket, n_docs, n_tokens,
        |  ROUND(CAST(SUM(n_tokens) OVER (ORDER BY bucket
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    / CAST(SUM(n_tokens) OVER () AS DOUBLE), 4) AS cum_token_share
        |FROM b ORDER BY bucket""".stripMargin,

    "q134_mixture_planner" ->
      """WITH t AS (
        |  SELECT source,
        |    CAST(SUM(LEN(STRING_SPLIT(text, ' '))) AS BIGINT) AS tokens_s
        |  FROM documents GROUP BY source),
        |w AS (
        |  SELECT source, tokens_s,
        |    CAST(SUM(tokens_s) OVER () AS DOUBLE) / 2.0
        |      / CAST(COUNT(*) OVER () AS DOUBLE) AS alloc
        |  FROM t)
        |SELECT source, tokens_s,
        |  ROUND(alloc, 4) AS alloc_tokens,
        |  ROUND(LEAST(1.0, alloc / CAST(tokens_s AS DOUBLE)), 4)
        |    AS keep_rate,
        |  ROUND(LEAST(alloc, CAST(tokens_s AS DOUBLE)), 4)
        |    AS expected_tokens,
        |  ROUND(GREATEST(0.0, alloc - CAST(tokens_s AS DOUBLE)), 4)
        |    AS shortfall
        |FROM w ORDER BY source""".stripMargin,

    "q135_token_entropy" ->
      s"""WITH tok AS (
         |  SELECT source, UNNEST(STRING_SPLIT(text, ' ')) AS t
         |  FROM documents),
         |cs AS (SELECT source, t, COUNT(*) AS c_st FROM tok GROUP BY 1, 2),
         |w AS (
         |  SELECT source, c_st,
         |    CAST(SUM(c_st) OVER (PARTITION BY source) AS BIGINT) AS n_s
         |  FROM cs),
         |sm AS (
         |  SELECT source, n_s,
         |    -(CAST(c_st AS DOUBLE) / CAST(n_s AS DOUBLE))
         |      * LN(CAST(c_st AS DOUBLE) / CAST(n_s AS DOUBLE)) AS summand
         |  FROM w)
         |SELECT source, n_s AS n_tokens, COUNT(*) AS vocab,
         |  ${graft.Fns.dsum18Sql("summand")} AS entropy
         |FROM sm GROUP BY source, n_s ORDER BY source""".stripMargin,

    // q135's SQL over the regenerated Zipf stream (zt restates
    // TextQueries.zipfTokArray's integer spelling)
    "q306_zipf_entropy" ->
      s"""WITH zt AS MATERIALIZED (
         |${TextQueries.ZipfTokensSql}),
         |cs AS (SELECT source, t, COUNT(*) AS c_st FROM zt GROUP BY 1, 2),
         |w AS (
         |  SELECT source, c_st,
         |    CAST(SUM(c_st) OVER (PARTITION BY source) AS BIGINT) AS n_s
         |  FROM cs),
         |sm AS (
         |  SELECT source, n_s,
         |    -(CAST(c_st AS DOUBLE) / CAST(n_s AS DOUBLE))
         |      * LN(CAST(c_st AS DOUBLE) / CAST(n_s AS DOUBLE)) AS summand
         |  FROM w)
         |SELECT source, n_s AS n_tokens, COUNT(*) AS vocab,
         |  ${graft.Fns.dsum18Sql("summand")} AS entropy
         |FROM sm GROUP BY source, n_s ORDER BY source""".stripMargin,

    "q307_zipf_coverage" ->
      s"""WITH zt AS MATERIALIZED (
         |${TextQueries.ZipfTokensSql}),
         |cs AS (SELECT source, t, COUNT(*) AS c FROM zt GROUP BY 1, 2),
         |r AS (
         |  SELECT source,
         |    ROW_NUMBER() OVER (PARTITION BY source
         |                       ORDER BY c DESC, t ASC) AS r,
         |    CAST(SUM(c) OVER (PARTITION BY source
         |      ORDER BY c DESC, t ASC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      AS cum,
         |    CAST(SUM(c) OVER (PARTITION BY source) AS BIGINT) AS tot
         |  FROM cs)
         |SELECT source, COUNT(*) AS vocab,
         |  MIN(CASE WHEN cum * 100 >= 50 * tot THEN r END) AS k50,
         |  MIN(CASE WHEN cum * 100 >= 90 * tot THEN r END) AS k90,
         |  MIN(CASE WHEN cum * 100 >= 99 * tot THEN r END) AS k99
         |FROM r GROUP BY source ORDER BY source""".stripMargin,

    "q137_epoch_shuffle" ->
      """WITH e AS (
        |  SELECT doc_id, UNNEST([0, 1, 2]) AS epoch FROM documents)
        |SELECT epoch, doc_id,
        |  ROW_NUMBER() OVER (PARTITION BY epoch
        |    ORDER BY MD5(CAST(doc_id AS VARCHAR) || ':'
        |                 || CAST(epoch AS VARCHAR)), doc_id) AS position
        |FROM e ORDER BY epoch, position""".stripMargin,

    "q139_packing_efficiency" ->
      """WITH d AS (
        |  SELECT CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents),
        |e AS (
        |  SELECT n_tok, UNNEST(CAST([128, 256, 512] AS BIGINT[])) AS max_len
        |  FROM d),
        |g AS (
        |  SELECT max_len, COUNT(*) AS n_docs,
        |    CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
        |    CAST(SUM((n_tok + max_len - 1) // max_len) AS BIGINT)
        |      AS seqs_padded
        |  FROM e GROUP BY 1)
        |SELECT max_len, n_docs, total_tokens, seqs_padded,
        |  1.0 - CAST(total_tokens AS DOUBLE)
        |    / CAST(seqs_padded * max_len AS DOUBLE) AS pad_frac,
        |  (total_tokens + max_len - 1) // max_len AS seqs_packed,
        |  CAST(seqs_padded AS DOUBLE)
        |    / CAST((total_tokens + max_len - 1) // max_len AS DOUBLE)
        |    AS packing_gain
        |FROM g ORDER BY max_len""".stripMargin,

    "q145_vocab_coverage" ->
      """WITH tok AS (
        |  SELECT source, UNNEST(STRING_SPLIT(text, ' ')) AS t
        |  FROM documents),
        |cs AS (SELECT source, t, COUNT(*) AS c FROM tok GROUP BY 1, 2),
        |r AS (
        |  SELECT source,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |                       ORDER BY c DESC, t ASC) AS r,
        |    CAST(SUM(c) OVER (PARTITION BY source
        |      ORDER BY c DESC, t ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum,
        |    CAST(SUM(c) OVER (PARTITION BY source) AS BIGINT) AS tot
        |  FROM cs)
        |SELECT source, COUNT(*) AS vocab,
        |  MIN(CASE WHEN cum * 100 >= 50 * tot THEN r END) AS k50,
        |  MIN(CASE WHEN cum * 100 >= 90 * tot THEN r END) AS k90,
        |  MIN(CASE WHEN cum * 100 >= 99 * tot THEN r END) AS k99
        |FROM r GROUP BY source ORDER BY source""".stripMargin,

    // exact-long counts -> identical smoothed doubles; exact-decimal
    // reduction of the summands (q149's Scaladoc argument)
    "q149_source_kl" ->
      s"""WITH tc AS (
         |  SELECT source, UNNEST(STRING_SPLIT(text, ' ')) AS token
         |  FROM documents),
         |c AS (SELECT source, token, COUNT(*) AS c FROM tc GROUP BY 1, 2),
         |tot AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_tok
         |        FROM c GROUP BY 1),
         |vn AS (SELECT COUNT(DISTINCT token) AS v FROM c),
         |vocab AS (SELECT DISTINCT token FROM c),
         |m AS (
         |  SELECT t.source, vocab.token,
         |    CAST(COALESCE(c.c, 0) + 1 AS DOUBLE) /
         |      CAST(t.n_tok + vn.v AS DOUBLE) AS p
         |  FROM vocab CROSS JOIN tot t CROSS JOIN vn
         |  LEFT JOIN c ON c.source = t.source AND c.token = vocab.token)
         |SELECT a.source AS p_source, b.source AS q_source,
         |  ROUND(${graft.Fns.dsum18Sql("a.p * LN(a.p / b.p)")}, 6) + 0.0
         |    AS kl
         |FROM m a JOIN m b ON a.token = b.token AND a.source <> b.source
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q154_shard_assignment" ->
      """WITH d AS (
        |  SELECT CAST(('0x' || SUBSTRING(MD5(CAST(doc_id AS VARCHAR)), 1, 4))
        |      AS BIGINT) % 16 AS shard,
        |    CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |g AS (
        |  SELECT shard, COUNT(*) AS n_docs,
        |    CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
        |  FROM d GROUP BY 1)
        |SELECT shard, n_docs, n_tokens,
        |  CAST(n_tokens AS DOUBLE) / CAST(SUM(n_tokens) OVER () AS DOUBLE)
        |    AS token_share
        |FROM g ORDER BY shard""".stripMargin,

    "q161_oov_rate" ->
      """WITH sc AS (
        |  SELECT source, UNNEST(STRING_SPLIT(text, ' ')) AS token
        |  FROM documents),
        |c AS (SELECT source, token, COUNT(*) AS c FROM sc GROUP BY 1, 2),
        |top AS (
        |  SELECT token FROM (
        |    SELECT token, SUM(c) AS tc FROM c GROUP BY 1)
        |  ORDER BY tc DESC, token ASC LIMIT 1000),
        |j AS (
        |  SELECT c.source, c.c,
        |    CASE WHEN top.token IS NULL THEN c.c ELSE 0 END AS oov
        |  FROM c LEFT JOIN top ON c.token = top.token)
        |SELECT source, CAST(SUM(c) AS BIGINT) AS n_tokens,
        |  CAST(SUM(oov) AS BIGINT) AS oov_tokens,
        |  CAST(SUM(oov) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS oov_rate
        |FROM j GROUP BY source ORDER BY source""".stripMargin,

    "q164_weighted_sample" ->
      """WITH d AS (
        |  SELECT doc_id, source, STRING_SPLIT(text, ' ') AS tok
        |  FROM documents),
        |k AS (
        |  SELECT doc_id, source,
        |    CAST(LEN(LIST_DISTINCT(tok)) AS DOUBLE) / LEN(tok) AS w,
        |    -LN((CAST(('0x' || SUBSTRING(MD5(CAST(doc_id AS VARCHAR)), 1, 8))
        |           AS BIGINT) + 1.0) / 4294967297.0)
        |      / (CAST(LEN(LIST_DISTINCT(tok)) AS DOUBLE) / LEN(tok)) AS key
        |  FROM d),
        |r AS (
        |  SELECT doc_id, source, w, key,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |                       ORDER BY key, doc_id) AS rk
        |  FROM k)
        |SELECT doc_id, source, ROUND(w, 4) AS w, ROUND(key, 6) AS key,
        |  CAST(rk AS INTEGER) AS rk
        |FROM r WHERE rk <= 20 ORDER BY source, rk""".stripMargin,

    // the WINDOW spelling of the identical sample — heap-merge must
    // equal sort
    "q303_weighted_sample_agg" ->
      """WITH d AS (
        |  SELECT doc_id, source, STRING_SPLIT(text, ' ') AS tok
        |  FROM documents),
        |k AS (
        |  SELECT doc_id, source,
        |    -LN((CAST(('0x' || SUBSTRING(MD5(CAST(doc_id AS VARCHAR)), 1, 8))
        |           AS BIGINT) + 1.0) / 4294967297.0)
        |      / (CAST(LEN(LIST_DISTINCT(tok)) AS DOUBLE) / LEN(tok)) AS key
        |  FROM d),
        |r AS (
        |  SELECT doc_id, source, key,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |                       ORDER BY key, doc_id) AS rk
        |  FROM k)
        |SELECT doc_id, source, ROUND(key, 6) AS key, CAST(rk AS INTEGER) AS rk
        |FROM r WHERE rk <= 20 ORDER BY source, rk""".stripMargin,

    "q166_ks_drift" ->
      """WITH d AS (SELECT source, n_chars FROM documents),
        |cnt AS (
        |  SELECT source, n_chars, COUNT(*) AS c FROM d GROUP BY 1, 2),
        |st AS (
        |  SELECT source, CAST(SUM(c) AS BIGINT) AS n_s
        |  FROM cnt GROUP BY 1),
        |gc AS (
        |  SELECT n_chars,
        |    CAST(SUM(cg) OVER (ORDER BY n_chars) AS BIGINT) AS cum_all
        |  FROM (SELECT n_chars, SUM(c) AS cg FROM cnt GROUP BY 1)),
        |n AS (SELECT COUNT(*) AS n_total FROM d),
        |grid AS (
        |  SELECT st.source, st.n_s, gc.n_chars, gc.cum_all
        |  FROM st CROSS JOIN gc),
        |j AS (
        |  SELECT g.source, g.n_s, g.n_chars, g.cum_all,
        |    COALESCE(c.c, 0) AS c
        |  FROM grid g LEFT JOIN cnt c
        |    ON c.source = g.source AND c.n_chars = g.n_chars),
        |cs AS (
        |  SELECT source, n_s, cum_all,
        |    CAST(SUM(c) OVER (PARTITION BY source ORDER BY n_chars)
        |      AS BIGINT) AS cum_s
        |  FROM j)
        |SELECT cs.source, cs.n_s AS n_docs,
        |  MAX(ABS(CAST(cum_s AS DOUBLE) / CAST(cs.n_s AS DOUBLE)
        |    - CAST(cum_all - cum_s AS DOUBLE)
        |      / CAST(n_total - cs.n_s AS DOUBLE))) AS ks_d
        |FROM cs CROSS JOIN n
        |GROUP BY 1, 2 ORDER BY source""".stripMargin,

    // the oracle states the single-window per-source prefix sum the
    // two-phase scan must equal exactly
    "q167_size_shards" ->
      """WITH c AS (
        |  SELECT doc_id, source, n_chars,
        |    CAST(SUM(n_chars) OVER (PARTITION BY source ORDER BY doc_id)
        |      AS BIGINT) AS cume
        |  FROM documents)
        |SELECT source, (cume - n_chars) // 20000 AS shard,
        |  COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
        |FROM c GROUP BY 1, 2 ORDER BY source, shard""".stripMargin,

    "q177_bootstrap_ci" ->
      s"""WITH d AS (
         |  SELECT doc_id, source,
         |    CAST(LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS DOUBLE)
         |      / LEN(STRING_SPLIT(text, ' ')) AS x
         |  FROM documents),
         |f AS (
         |  SELECT source, j * 4 + s AS r, x,
         |    (CAST(('0x' || SUBSTRING(MD5(CAST(doc_id AS VARCHAR) || '_'
         |        || CAST(j AS VARCHAR)), 1 + 8 * s, 8)) AS BIGINT) + 1.0)
         |      / 4294967297.0 AS u
         |  FROM d, UNNEST(GENERATE_SERIES(0, 7)) AS a(j),
         |    UNNEST(GENERATE_SERIES(0, 3)) AS b(s)),
         |kk AS (
         |  SELECT source, r, x,
         |    CASE WHEN u < 0.36787944117144233 THEN 0
         |         WHEN u < 0.7357588823428847 THEN 1
         |         WHEN u < 0.9196986029286058 THEN 2
         |         WHEN u < 0.9810118431238463 THEN 3
         |         WHEN u < 0.9963401531726563 THEN 4
         |         WHEN u < 0.9994058151824183 THEN 5
         |         ELSE 6 END AS k
         |  FROM f),
         |m AS (
         |  SELECT source, r,
         |    ${graft.Fns.dsumSql("k * x")}
         |      / CAST(CAST(SUM(k) AS BIGINT) AS DOUBLE) AS m
         |  FROM kk GROUP BY 1, 2)
         |SELECT source,
         |  ROUND(QUANTILE_CONT(m, 0.025), 4) AS ci_lo,
         |  ROUND(QUANTILE_CONT(m, 0.5), 4) AS ci_med,
         |  ROUND(QUANTILE_CONT(m, 0.975), 4) AS ci_hi
         |FROM m GROUP BY source ORDER BY source""".stripMargin,

    "q181_rank_correlation" ->
      s"""WITH d AS (
         |  SELECT doc_id, source, n_chars,
         |    CAST(LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS DOUBLE)
         |      / LEN(STRING_SPLIT(text, ' ')) AS y
         |  FROM documents),
         |r AS (
         |  SELECT source,
         |    CAST(RANK() OVER (PARTITION BY source ORDER BY n_chars)
         |        AS DOUBLE)
         |      + CAST(COUNT(*) OVER (PARTITION BY source, n_chars) - 1
         |          AS DOUBLE) / 2.0 AS rx,
         |    CAST(RANK() OVER (PARTITION BY source ORDER BY y) AS DOUBLE)
         |      + CAST(COUNT(*) OVER (PARTITION BY source, y) - 1
         |          AS DOUBLE) / 2.0 AS ry
         |  FROM d),
         |m AS (
         |  SELECT source, COUNT(*) AS n,
         |    ${graft.Fns.dsumSql("rx")} AS sx,
         |    ${graft.Fns.dsumSql("ry")} AS sy,
         |    ${graft.Fns.dsumSql("rx * rx")} AS sxx,
         |    ${graft.Fns.dsumSql("ry * ry")} AS syy,
         |    ${graft.Fns.dsumSql("rx * ry")} AS sxy
         |  FROM r GROUP BY 1)
         |SELECT source, n AS n_docs,
         |  (CAST(n AS DOUBLE) * sxy - sx * sy)
         |    / SQRT((CAST(n AS DOUBLE) * sxx - sx * sx)
         |        * (CAST(n AS DOUBLE) * syy - sy * sy)) AS rho
         |FROM m ORDER BY source""".stripMargin,

    "q182_chisq_drift" ->
      s"""WITH d AS (
         |  SELECT source, n_chars // 50 AS b FROM documents),
         |cnt AS (
         |  SELECT source, b, COUNT(*) AS o FROM d GROUP BY 1, 2),
         |st AS (
         |  SELECT source, CAST(SUM(o) AS BIGINT) AS n_s
         |  FROM cnt GROUP BY 1),
         |bt AS (
         |  SELECT b, CAST(SUM(o) AS BIGINT) AS n_b FROM cnt GROUP BY 1),
         |n AS (SELECT COUNT(*) AS n_total FROM d),
         |grid AS (
         |  SELECT st.source, st.n_s, bt.b, bt.n_b,
         |    COALESCE(c.o, 0) AS o
         |  FROM st CROSS JOIN bt
         |  LEFT JOIN cnt c ON c.source = st.source AND c.b = bt.b),
         |cells AS (
         |  SELECT g.source, g.n_s,
         |    (CAST(o AS DOUBLE)
         |       - CAST(n_s AS DOUBLE) * CAST(n_b AS DOUBLE)
         |         / CAST(n_total AS DOUBLE))
         |    * (CAST(o AS DOUBLE)
         |       - CAST(n_s AS DOUBLE) * CAST(n_b AS DOUBLE)
         |         / CAST(n_total AS DOUBLE))
         |    / (CAST(n_s AS DOUBLE) * CAST(n_b AS DOUBLE)
         |       / CAST(n_total AS DOUBLE))
         |    + (CAST(n_b - o AS DOUBLE)
         |       - CAST(n_total - n_s AS DOUBLE) * CAST(n_b AS DOUBLE)
         |         / CAST(n_total AS DOUBLE))
         |    * (CAST(n_b - o AS DOUBLE)
         |       - CAST(n_total - n_s AS DOUBLE) * CAST(n_b AS DOUBLE)
         |         / CAST(n_total AS DOUBLE))
         |    / (CAST(n_total - n_s AS DOUBLE) * CAST(n_b AS DOUBLE)
         |       / CAST(n_total AS DOUBLE)) AS cell
         |  FROM grid g CROSS JOIN n),
         |agg AS (
         |  SELECT source, MAX(n_s) AS n_docs, COUNT(*) - 1 AS dof,
         |    ROUND(${graft.Fns.dsum18Sql("cell")}, 8) AS chi_sq
         |  FROM cells GROUP BY source)
         |SELECT source, n_docs, dof, chi_sq FROM agg
         |ORDER BY source""".stripMargin,

    "q185_skyline" ->
      """WITH d AS (
        |  SELECT doc_id, source, n_chars,
        |    CAST(LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS DOUBLE)
        |      / LEN(STRING_SPLIT(text, ' ')) AS y
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, source, n_chars, y,
        |    MAX(y) OVER (PARTITION BY source ORDER BY n_chars
        |      RANGE BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
        |      AS m_longer,
        |    MAX(y) OVER (PARTITION BY source, n_chars) AS m_same
        |  FROM d)
        |SELECT source, doc_id, n_chars, ROUND(y, 4) AS diversity
        |FROM w
        |WHERE (m_longer IS NULL OR y > m_longer) AND y = m_same
        |ORDER BY source, n_chars DESC, doc_id""".stripMargin,

    "q190_mixture_apportion" ->
      s"""WITH c AS (
         |  SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY 1),
         |w AS (
         |  SELECT source, n_docs,
         |    ROUND(SQRT(CAST(n_docs AS DOUBLE)), 6) AS w
         |  FROM c),
         |d AS (SELECT ${graft.Fns.dsumSql("w")} AS w_sum FROM w),
         |x AS (
         |  SELECT source, n_docs, w / w_sum AS mix_w,
         |    CAST(FLOOR(w / w_sum * 1000.0) AS BIGINT) AS base,
         |    w / w_sum * 1000.0 - FLOOR(w / w_sum * 1000.0) AS rem
         |  FROM w CROSS JOIN d),
         |y AS (
         |  SELECT source, n_docs, mix_w, base, rem,
         |    1000 - CAST(SUM(base) OVER () AS BIGINT) AS deficit,
         |    ROW_NUMBER() OVER (ORDER BY rem DESC, source ASC) AS rk
         |  FROM x)
         |SELECT source, n_docs, mix_w, rk <= deficit AS got_bonus,
         |  base + CASE WHEN rk <= deficit THEN 1 ELSE 0 END AS quota
         |FROM y ORDER BY source""".stripMargin,

    "q191_sliding_chunks" ->
      """WITH d AS (
        |  SELECT doc_id, STRING_SPLIT(text, ' ') AS tok FROM documents)
        |SELECT doc_id, CAST(i AS INTEGER) AS chunk_idx,
        |  CAST(i * 10 + 1 AS INTEGER) AS start_tok,
        |  CAST(LEAST(20, LEN(tok) - (i * 10 + 1) + 1) AS INTEGER)
        |    AS n_tokens,
        |  ARRAY_TO_STRING(LIST_SLICE(tok, i * 10 + 1, i * 10 + 20), ' ')
        |    AS chunk_text
        |FROM d, UNNEST(GENERATE_SERIES(0, (LEN(tok) - 1) // 10)) AS g(i)
        |ORDER BY doc_id, chunk_idx""".stripMargin,

    "q198_quantile_norm" ->
      """WITH d AS (
        |  SELECT doc_id, source, CAST(n_chars AS DOUBLE) AS score
        |  FROM documents),
        |n AS (SELECT COUNT(*) AS n FROM d),
        |p AS (
        |  SELECT score AS pv,
        |    ROW_NUMBER() OVER (ORDER BY score, doc_id) - 1 AS idx
        |  FROM d),
        |r AS (
        |  SELECT doc_id, source, score,
        |    PERCENT_RANK() OVER (PARTITION BY source ORDER BY score)
        |      AS pr
        |  FROM d),
        |j AS (
        |  SELECT r.*, n.n,
        |    r.pr * CAST(n.n - 1 AS DOUBLE) AS fidx
        |  FROM r CROSS JOIN n),
        |k AS (
        |  SELECT *, CAST(FLOOR(fidx) AS BIGINT) AS lo,
        |    LEAST(CAST(FLOOR(fidx) AS BIGINT) + 1, n - 1) AS hi
        |  FROM j)
        |SELECT k.doc_id, k.source, k.score,
        |  ROUND(plo.pv + (k.fidx - CAST(k.lo AS DOUBLE))
        |    * (phi.pv - plo.pv), 6) + 0.0 AS qnorm
        |FROM k
        |JOIN p plo ON plo.idx = k.lo
        |JOIN p phi ON phi.idx = k.hi
        |ORDER BY doc_id""".stripMargin,

    "q206_neyman_allocation" ->
      s"""WITH c AS (
         |  SELECT source, COUNT(*) AS n_docs,
         |    CAST(SUM(n_chars) AS BIGINT) AS sx,
         |    CAST(SUM(n_chars * n_chars) AS BIGINT) AS sx2
         |  FROM documents GROUP BY 1 HAVING COUNT(*) >= 2),
         |w AS (
         |  SELECT source, n_docs,
         |    SQRT(GREATEST((CAST(sx2 AS DOUBLE)
         |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
         |        / CAST(n_docs AS DOUBLE)) / CAST(n_docs - 1 AS DOUBLE),
         |      0.0)) AS sd
         |  FROM c),
         |ww AS (
         |  SELECT *, ROUND(CAST(n_docs AS DOUBLE) * sd, 6) AS w FROM w),
         |d AS (SELECT ${graft.Fns.dsumSql("w")} AS w_sum FROM ww),
         |x AS (
         |  SELECT source, n_docs, sd, w / w_sum AS alloc_w,
         |    CAST(FLOOR(w / w_sum * 100.0) AS BIGINT) AS base,
         |    w / w_sum * 100.0 - FLOOR(w / w_sum * 100.0) AS rem
         |  FROM ww CROSS JOIN d),
         |y AS (
         |  SELECT source, n_docs, sd, alloc_w, base, rem,
         |    100 - CAST(SUM(base) OVER () AS BIGINT) AS deficit,
         |    ROW_NUMBER() OVER (ORDER BY rem DESC, source ASC) AS rk
         |  FROM x)
         |SELECT source, n_docs, ROUND(sd, 6) + 0.0 AS sd,
         |  ROUND(alloc_w, 10) + 0.0 AS alloc_w,
         |  base + CASE WHEN rk <= deficit THEN 1 ELSE 0 END AS quota
         |FROM y ORDER BY source""".stripMargin,

    "q223_rejection_census" ->
      """WITH d AS (
        |  SELECT doc_id, STRING_SPLIT(text, ' ') AS tok FROM documents),
        |m AS (
        |  SELECT doc_id,
        |    CAST(LEN(tok) AS BIGINT) AS n_words,
        |    CAST(LEN(LIST_DISTINCT(tok)) AS BIGINT) AS n_distinct,
        |    CAST(LIST_MAX(LIST_TRANSFORM(LIST_DISTINCT(tok),
        |      u -> LEN(LIST_FILTER(tok, t -> t = u)))) AS BIGINT)
        |      AS top_cnt
        |  FROM d),
        |r AS (
        |  SELECT doc_id,
        |    (CASE WHEN n_words < 60 THEN '+too_short' ELSE '' END)
        |    || (CASE WHEN n_words > 100 THEN '+too_long' ELSE '' END)
        |    || (CASE WHEN top_cnt * 5 >= n_words
        |            THEN '+top_heavy' ELSE '' END)
        |    || (CASE WHEN n_distinct * 2 < n_words
        |            THEN '+low_diversity' ELSE '' END) AS frag
        |  FROM m),
        |c AS (
        |  SELECT CASE WHEN frag = '' THEN 'admitted'
        |              ELSE SUBSTRING(frag, 2, LENGTH(frag)) END AS reason
        |  FROM r),
        |g AS (SELECT reason, COUNT(*) AS n_docs FROM c GROUP BY 1)
        |SELECT reason, n_docs,
        |  ROUND(CAST(n_docs AS DOUBLE)
        |    / CAST(SUM(n_docs) OVER () AS DOUBLE), 10) + 0.0 AS share
        |FROM g ORDER BY reason""".stripMargin,

    "q239_boilerplate_spans" ->
      """WITH d AS (
        |  SELECT doc_id, STRING_SPLIT(text, ' ') AS tok FROM documents
        |  WHERE LEN(STRING_SPLIT(text, ' ')) >= 8),
        |f AS (
        |  SELECT doc_id, ARRAY_TO_STRING(tok[g.i:g.i+7], ' ') AS sh
        |  FROM d, UNNEST(GENERATE_SERIES(1, LEN(tok) - 7)) AS g(i))
        |SELECT sh, COUNT(DISTINCT doc_id) AS n_docs,
        |  COUNT(*) AS n_total
        |FROM f GROUP BY sh
        |HAVING COUNT(DISTINCT doc_id) >= 3
        |ORDER BY n_docs DESC, sh""".stripMargin,

    "q240_boilerplate_share" ->
      """WITH d AS (
        |  SELECT doc_id, STRING_SPLIT(text, ' ') AS tok FROM documents
        |  WHERE LEN(STRING_SPLIT(text, ' ')) >= 8),
        |f AS (
        |  SELECT doc_id, ARRAY_TO_STRING(tok[g.i:g.i+7], ' ') AS sh
        |  FROM d, UNNEST(GENERATE_SERIES(1, LEN(tok) - 7)) AS g(i)),
        |b AS (
        |  SELECT sh FROM f GROUP BY sh
        |  HAVING COUNT(DISTINCT doc_id) >= 3),
        |nb AS (
        |  SELECT f.doc_id, COUNT(*) AS n_boiler
        |  FROM f WHERE f.sh IN (SELECT sh FROM b)
        |  GROUP BY 1),
        |ns AS (SELECT doc_id, COUNT(*) AS n_spans FROM f GROUP BY 1)
        |SELECT ns.doc_id, ns.n_spans,
        |  COALESCE(nb.n_boiler, 0) AS n_boiler,
        |  ROUND(CAST(COALESCE(nb.n_boiler, 0) AS DOUBLE)
        |    / CAST(ns.n_spans AS DOUBLE), 10) + 0.0 AS boiler_share
        |FROM ns LEFT JOIN nb ON ns.doc_id = nb.doc_id
        |ORDER BY ns.doc_id""".stripMargin,

    // same hashed buckets (md5 prefix % 4096), same add-1 LMs over exact
    // integer counts, same per-bucket ln ratio, same scale-18 doc carry
    "q263_dsir_weights" -> (
      """WITH bg AS (
        |  SELECT doc_id, source, tok[i] || ' ' || tok[i + 1] AS g
        |  FROM (SELECT doc_id, source, STRING_SPLIT(text, ' ') AS tok
        |        FROM documents
        |        WHERE LEN(STRING_SPLIT(text, ' ')) >= 2),
        |       UNNEST(GENERATE_SERIES(1, LEN(tok) - 1)) AS u(i)),
        |hb AS (
        |  SELECT doc_id, source,
        |    CAST(('0x' || SUBSTRING(MD5(g), 1, 4)) AS BIGINT) % 4096 AS b
        |  FROM bg),
        |c AS (
        |  SELECT b,
        |    CAST(SUM(CASE WHEN source IN ('src0','src1','src2','src3')
        |      THEN 1 ELSE 0 END) AS BIGINT) AS ct,
        |    CAST(SUM(CASE WHEN source IN ('src0','src1','src2','src3')
        |      THEN 0 ELSE 1 END) AS BIGINT) AS cr
        |  FROM hb GROUP BY 1),
        |t AS (
        |  SELECT CAST(SUM(ct) AS BIGINT) AS nt,
        |    CAST(SUM(cr) AS BIGINT) AS nr FROM c),
        |l AS (
        |  SELECT b,
        |    LN(CAST(ct + 1 AS DOUBLE) / CAST(nt + 4096 AS DOUBLE)) -
        |    LN(CAST(cr + 1 AS DOUBLE) / CAST(nr + 4096 AS DOUBLE)) AS lnr
        |  FROM c, t),
        |w AS (
        |  SELECT hb.doc_id, hb.source, COUNT(*) AS n_bigrams,
        |    """.stripMargin +
        graft.Fns.dsum18Sql("lnr") +
        """ AS w
        |  FROM hb JOIN l USING (b)
        |  WHERE hb.source NOT IN ('src0','src1','src2','src3')
        |  GROUP BY 1, 2)
        |SELECT doc_id, source, n_bigrams,
        |  ROUND(w, 6) + 0.0 AS dsir_weight
        |FROM w ORDER BY dsir_weight DESC, doc_id LIMIT 25""".stripMargin))
}
