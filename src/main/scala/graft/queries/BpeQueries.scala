package graft.queries

import graft.{QuerySpec, Tables}
import graft.functions.{Bpe, TextFunctions => T}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Real BPE subword tokenization as dataflow (round 11) — the engine's
  * token budgets and packing previously ran on a whitespace surrogate;
  * these queries run them on actual byte-pair-encoding counts from a
  * tokenizer TRAINED on the corpus.
  *
  * Everything is oracled end-to-end: the DuckDB side replays the exact
  * training loop (weighted pair argmax with (count DESC, left, right)
  * tie-break, merge applied as a non-overlapping string replace until
  * fixpoint) in a recursive CTE, then re-encodes the vocabulary with
  * the learned merges and joins the piece counts back per document —
  * the q141 pinned-exact-regime playbook, here for an iterative
  * *training* algorithm. Exactness pins (also in [[graft.functions.Bpe]]):
  * no self-pair merges, `^[a-z]+$$` training words, binary-string
  * tie-breaks.
  *
  * Scale notes (SCALING.md "BPE"): training touches only the
  * vocabulary-grain (word, freq) table per round; encoding rides the
  * document scan as one memoized expression — no explode, no shuffle,
  * merges broadcast in the closure. The tokenizer is an artifact:
  * trained once, reused by every downstream query (merges memo below —
  * production would persist them as a table).
  */
object BpeQueries {

  /** Merges per (sfDir, k): the trained tokenizer is an artifact shared
    * by the budget/packing queries, not retrained per query. q148 (the
    * training query itself) always retrains and refreshes the entry so
    * its bench sample measures real training cost. */
  private val mergeCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Int), Seq[(String, String)]]()

  private val K = 24

  private def trainedMerges(s: org.apache.spark.sql.SparkSession, dir: String,
      retrain: Boolean = false): Seq[(String, String)] = {
    val key = (dir, K)
    // q148's retrain pins the DATAFLOW trainer (maxDriverVocab = 0) so
    // the distributed reference stays under the oracle; cache misses
    // take the default driver-local fast path (q156 pins it to the same
    // oracle; BpeSpec proves merge-for-merge equality)
    if (retrain) {
      val m = Bpe.learnMerges(
        Bpe.wordFreq(Tables.load(s, dir, "documents"), "text"), K,
        maxDriverVocab = 0)
      mergeCache.put(key, m)
      m
    } else mergeCache.computeIfAbsent(key, _ =>
      Bpe.learnMerges(Bpe.wordFreq(Tables.load(s, dir, "documents"), "text"), K))
  }

  // ---------------------------------------------------------------------
  // Oracle prelude: training replay + vocabulary re-encode + per-doc BPE
  // counts. Interpolated with $K; merges MATERIALIZED so the recursive
  // encode join doesn't re-run the training CTE per step (28× measured).
  // ---------------------------------------------------------------------
  private val tokensSql: String =
    """string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ')"""

  private def preludeSql: String = s"""
    wf AS (
      SELECT w, COUNT(*) AS freq FROM (
        SELECT unnest($tokensSql) AS w FROM documents) t
      WHERE regexp_matches(w, '^[a-z]+$$')
      GROUP BY w),
    -- training replay: one recursive relation alternating CHOOSE steps
    -- (adjacent-pair candidates unnested per word, weighted count via a
    -- window, global argmax by (cnt DESC, l, r)) and APPLY steps (the
    -- chosen pair replaced until no word changes). Self-pairs excluded:
    -- non-overlapping string replace is only order-equivalent to the
    -- greedy left-to-right pass when occurrences can't share a boundary.
    enc AS (
      SELECT 0 AS step, 0 AS nm, w, freq,
             '|' || regexp_replace(w, '(.)', '\\1|', 'g') AS st,
             CAST(NULL AS VARCHAR) AS cl, CAST(NULL AS VARCHAR) AS cr,
             FALSE AS applying
      FROM wf
      UNION ALL
      SELECT step, nm, w, freq, st, cl, cr, applying FROM (
        SELECT
          step + 1 AS step,
          CASE WHEN applying AND NOT again THEN nm + 1 ELSE nm END AS nm,
          w, freq,
          CASE WHEN applying THEN st2 ELSE st END AS st,
          CASE WHEN applying THEN cl ELSE bl END AS cl,
          CASE WHEN applying THEN cr ELSE br END AS cr,
          CASE WHEN applying THEN again ELSE has_pair END AS applying,
          has_pair, applying AS was_applying
        FROM (
          SELECT step, nm, w, freq, st, cl, cr, applying, st2,
                 COALESCE(MAX(CASE WHEN applying AND
                     replace(st2, '|'||cl||'|'||cr||'|', '|'||cl||cr||'|') <> st2
                     THEN 1 ELSE 0 END) OVER () = 1, FALSE) AS again,
                 FIRST_VALUE(pl) OVER (ORDER BY pcnt DESC NULLS LAST, pl, pr) AS bl,
                 FIRST_VALUE(pr) OVER (ORDER BY pcnt DESC NULLS LAST, pl, pr) AS br,
                 COALESCE(MAX(CASE WHEN pcnt IS NOT NULL THEN 1 ELSE 0 END)
                   OVER () = 1, FALSE) AS has_pair
          FROM (
            SELECT step, nm, w, freq, st, cl, cr, applying, st2, pl, pr,
                   CASE WHEN pl IS NOT NULL
                        THEN SUM(freq) OVER (PARTITION BY pl, pr) END AS pcnt
            FROM (
              SELECT step, nm, w, freq, st, cl, cr, applying, st2,
                     CASE WHEN p[1] IS NOT NULL AND p[1] <> p[2] THEN p[1] END AS pl,
                     CASE WHEN p[1] IS NOT NULL AND p[1] <> p[2] THEN p[2] END AS pr
              FROM (
                SELECT step, nm, w, freq, st, cl, cr, applying,
                       CASE WHEN applying
                            THEN replace(st, '|'||cl||'|'||cr||'|', '|'||cl||cr||'|')
                            END AS st2,
                       unnest(CASE WHEN applying
                         THEN [(CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR))]
                         ELSE list_concat(
                           list_zip(syms[1:len(syms)-1], syms[2:len(syms)]),
                           [(CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR))]) END) AS p
                FROM (
                  SELECT step, nm, w, freq, st, cl, cr, applying,
                         list_filter(string_split(st, '|'), x -> x <> '') AS syms
                  FROM enc WHERE nm < $K)
              )
            )
          )
        )
        WHERE applying OR has_pair OR was_applying
        GROUP BY ALL
      )
    ),
    merges AS MATERIALIZED (
      SELECT nm + 1 AS rank, cl AS l, cr AS r
      FROM (SELECT DISTINCT nm, cl, cr FROM enc WHERE applying AND cl IS NOT NULL)),
    toks AS (
      SELECT doc_id, unnest($tokensSql) AS w FROM documents
      WHERE regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') <> ''),
    vocab AS (SELECT DISTINCT w FROM toks),
    -- vocabulary re-encode with the learned merges, in rank order; each
    -- step is one replace pass, the rank advances when a pass no-ops
    encw AS (
      SELECT w, '|' || regexp_replace(w, '(.)', '\\1|', 'g') AS st, 0 AS r
      FROM vocab
      UNION ALL
      SELECT w,
        CASE WHEN replace(st, '|'||m.l||'|'||m.r||'|', '|'||m.l||m.r||'|') <> st
             THEN replace(st, '|'||m.l||'|'||m.r||'|', '|'||m.l||m.r||'|') ELSE st END,
        CASE WHEN replace(st, '|'||m.l||'|'||m.r||'|', '|'||m.l||m.r||'|') <> st
             THEN encw.r ELSE encw.r + 1 END
      FROM encw JOIN merges m ON m.rank = encw.r + 1),
    wp AS (
      SELECT w, CAST(LEN(st) - LEN(replace(st, '|', '')) - 1 AS BIGINT) AS n_pieces
      FROM encw WHERE encw.r = (SELECT COUNT(*) FROM merges)),
    docbpe AS (
      SELECT d.doc_id, d.lang,
             COALESCE(c.n_tokens, 0) AS n_tokens,
             COALESCE(c.n_bpe_tokens, 0) AS n_bpe_tokens
      FROM documents d LEFT JOIN (
        SELECT t.doc_id, COUNT(*) AS n_tokens,
               CAST(SUM(wp.n_pieces) AS BIGINT) AS n_bpe_tokens
        FROM toks t JOIN wp ON t.w = wp.w
        GROUP BY t.doc_id) c USING (doc_id))"""

  def specs: Seq[QuerySpec] = Seq(

    // ---- q148: BPE tokenizer training — the learned merge table
    // itself. Spark runs the vocabulary-grain K-round dataflow
    // (Bpe.learnMerges); the oracle replays every round exactly. ----
    QuerySpec(
      "q148_bpe_learned_merges",
      Some(s"""
        WITH RECURSIVE $preludeSql
        SELECT rank, l AS left_sym, r AS right_sym FROM merges"""),
      (s, dir) => {
        val m = trainedMerges(s, dir, retrain = true)
        import s.implicits._
        m.zipWithIndex
          .map { case ((l, r), i) => (i + 1L, l, r) }
          .toDF("rank", "left_sym", "right_sym")
      }),

    // ---- q156: the PRODUCTION trainer path under the same oracle as
    // q148 — the driver-local fast trainer (the vocabulary-grain
    // (word, freq) table collapses once on the cluster, then all K
    // argmax rounds run in-memory; one Spark job total instead of one
    // per merge). Same merges, bit for bit: BpeSpec proves path parity
    // and this gate proves it against the independent DuckDB replay. ----
    QuerySpec(
      "q156_bpe_merges_local",
      Some(s"""
        WITH RECURSIVE $preludeSql
        SELECT rank, l AS left_sym, r AS right_sym FROM merges"""),
      (s, dir) => {
        val m = Bpe.learnMerges(
          Bpe.wordFreq(Tables.load(s, dir, "documents"), "text"), K)
        import s.implicits._
        m.zipWithIndex
          .map { case ((l, r), i) => (i + 1L, l, r) }
          .toDF("rank", "left_sym", "right_sym")
      }),

    // ---- q149: per-document BPE token stats — whitespace count vs
    // real subword count, the pair every budget decision rests on.
    // Encoding is ONE memoized expression inside the scan: no explode,
    // no shuffle, merges in the closure. ----
    QuerySpec(
      "q149_bpe_token_stats",
      Some(s"""
        WITH RECURSIVE $preludeSql
        SELECT doc_id, n_tokens, n_bpe_tokens FROM docbpe"""),
      (s, dir) => {
        val merges = trainedMerges(s, dir)
        graft.operators.Fanout.forKernel(Tables.load(s, dir, "documents"))
          .select(col("doc_id"),
            T.tokenCount(col("text")).as("n_tokens"),
            Bpe.bpeTokenCount(col("text"), merges).as("n_bpe_tokens"))
      }),

    // ---- q150: token-budget mix sampling on REAL BPE counts — q122's
    // admission pass with the budget measured in subword tokens, as
    // production budgets are. Same single window shuffle on lang. ----
    QuerySpec(
      "q150_token_budget_bpe",
      Some(s"""
        WITH RECURSIVE $preludeSql,
        c AS (
          SELECT doc_id, lang, n_bpe_tokens,
                 CAST(SUM(n_bpe_tokens) OVER (
                   PARTITION BY lang
                   ORDER BY ${graft.Exact.hashOrderSql("doc_id", 1000000)}, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS cum_tokens
          FROM docbpe)
        SELECT doc_id, lang, n_bpe_tokens, cum_tokens
        FROM c WHERE cum_tokens - n_bpe_tokens < 3000"""),
      (s, dir) => {
        val merges = trainedMerges(s, dir)
        val w = Window.partitionBy(col("lang"))
          .orderBy(graft.Exact.hashOrder(col("doc_id"), 1000000), col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        graft.operators.Fanout.forKernel(Tables.load(s, dir, "documents"))
          .select(col("doc_id"), col("lang"),
            Bpe.bpeTokenCount(col("text"), merges).as("n_bpe_tokens"))
          .withColumn("cum_tokens", sum(col("n_bpe_tokens")).over(w).cast("long"))
          .filter(col("cum_tokens") - col("n_bpe_tokens") < 3000)
      }),

    // ---- q151: training-sequence packing on REAL BPE counts — q89's
    // 2048-token sequence cut with actual subword lengths, so packed
    // sequences match what a trainer's collator would see. Spark keeps
    // the distributed prefix sum (operators.Packing). ----
    QuerySpec(
      "q151_pack_sequences_bpe",
      Some(s"""
        WITH RECURSIVE $preludeSql,
        ordered AS (
          SELECT doc_id, n_bpe_tokens,
                 SUM(n_bpe_tokens) OVER (ORDER BY ${graft.Exact.hashOrderSql("doc_id", 97)}, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          FROM docbpe)
        SELECT CAST((cum - n_bpe_tokens) // 2048 AS BIGINT) AS seq_id,
               COUNT(*) AS n_docs, CAST(SUM(n_bpe_tokens) AS BIGINT) AS n_tokens,
               MIN(doc_id) AS min_doc_id, MAX(doc_id) AS max_doc_id
        FROM ordered GROUP BY 1"""),
      (s, dir) => {
        val merges = trainedMerges(s, dir)
        val docs = graft.operators.Fanout.forKernel(
          Tables.load(s, dir, "documents")).select(col("doc_id"),
          Bpe.bpeTokenCount(col("text"), merges).as("n_toks"))
        graft.operators.Packing.packSequences(docs, "doc_id", "n_toks",
          budget = 2048L)
      }),

    // ---- q157: BPE token-ID encoding — the artifact a training
    // pipeline actually ships (q149's counts only feed budgeting).
    // Pieces map to ids 1..N in UTF-8 binary order over the corpus
    // piece set (Bpe.pieceVocab — bounded by |alphabet| + K merges, a
    // driver object the same class as the merges); the whole document
    // encodes to array<int> inside the scan (BpeEncodeIds: no explode,
    // no shuffle; merges + vocab in the closure, per-task word memo).
    // Output explodes to (doc_id, pos, token_id) rows on a 1-in-10 doc
    // sample so the gate hashes token-exact sequences, not counts;
    // vocabulary and ids still come from the FULL corpus. ----
    QuerySpec(
      "q157_bpe_token_ids",
      Some(s"""
        WITH RECURSIVE $preludeSql,
        wpieces AS (
          SELECT w, list_filter(string_split(st, '|'), x -> x <> '') AS pieces
          FROM encw WHERE encw.r = (SELECT COUNT(*) FROM merges)),
        idvocab AS (
          SELECT piece, CAST(ROW_NUMBER() OVER (ORDER BY piece) AS INT) AS token_id
          FROM (SELECT DISTINCT unnest(pieces) AS piece FROM wpieces)),
        tokso AS (
          SELECT doc_id, i AS wpos, ts[i] AS w
          FROM (SELECT doc_id, $tokensSql AS ts FROM documents
                WHERE regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') <> ''
                  AND doc_id % 10 = 0),
               UNNEST(generate_series(1, len(ts))) AS t(i)),
        docpieces AS (
          SELECT t.doc_id, t.wpos, p AS ppos, wp.pieces[p] AS piece
          FROM tokso t JOIN wpieces wp ON t.w = wp.w,
               UNNEST(generate_series(1, len(wp.pieces))) AS u(p))
        SELECT doc_id,
               CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY wpos, ppos) - 1
                 AS BIGINT) AS pos,
               v.token_id
        FROM docpieces JOIN idvocab v USING (piece)"""),
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val merges = trainedMerges(s, dir)
        val vocabIds = Bpe.pieceVocab(docs, "text", merges)
        graft.operators.Fanout.forKernel(docs)
          .filter(col("doc_id") % 10 === 0)
          .select(col("doc_id"),
            posexplode(Bpe.encodeIds(col("text"), merges, vocabIds)))
          .select(col("doc_id"), col("pos").cast("long").as("pos"),
            col("col").as("token_id"))
      }),

    // ---- q158: PACKED token-id sequences — q151's packing emitting
    // the real artifact: (seq_id, pos, token_id) rows, i.e. each 2048-
    // token training sequence's concatenated id stream in collator
    // order. Same distributed prefix sum (Packing.packDocs — per-bucket
    // windows + driver offsets, zero global windows); the id arrays
    // join the doc-grain pack table and explode with the sequence-
    // relative position computed from the global token offset. Runs on
    // the q157 doc sample (tokenizer still trained on the full corpus)
    // so the gate stays row-bounded. ----
    QuerySpec(
      "q158_bpe_packed_ids",
      Some(s"""
        WITH RECURSIVE $preludeSql,
        wpieces AS (
          SELECT w, list_filter(string_split(st, '|'), x -> x <> '') AS pieces
          FROM encw WHERE encw.r = (SELECT COUNT(*) FROM merges)),
        idvocab AS (
          SELECT piece, CAST(ROW_NUMBER() OVER (ORDER BY piece) AS INT) AS token_id
          FROM (SELECT DISTINCT unnest(pieces) AS piece FROM wpieces)),
        tokso AS (
          SELECT doc_id, i AS wpos, ts[i] AS w
          FROM (SELECT doc_id, $tokensSql AS ts FROM documents
                WHERE regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') <> ''
                  AND doc_id % 10 = 0),
               UNNEST(generate_series(1, len(ts))) AS t(i)),
        docpieces AS (
          SELECT t.doc_id, t.wpos, p AS ppos, wp.pieces[p] AS piece
          FROM tokso t JOIN wpieces wp ON t.w = wp.w,
               UNNEST(generate_series(1, len(wp.pieces))) AS u(p)),
        doctok AS (
          SELECT doc_id, COUNT(*) AS n FROM docpieces GROUP BY doc_id),
        packed AS (
          SELECT doc_id,
                 SUM(n) OVER (ORDER BY ${graft.Exact.hashOrderSql("doc_id", 97)}, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n AS off
          FROM doctok)
        SELECT CAST(p.off // 2048 AS BIGINT) AS seq_id,
               CAST(p.off - (p.off // 2048) * 2048
                 + ROW_NUMBER() OVER (PARTITION BY d.doc_id ORDER BY d.wpos, d.ppos) - 1
                 AS BIGINT) AS pos,
               v.token_id
        FROM docpieces d
        JOIN packed p USING (doc_id)
        JOIN idvocab v USING (piece)"""),
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val merges = trainedMerges(s, dir)
        val vocabIds = Bpe.pieceVocab(docs, "text", merges)
        val withIds = graft.operators.Fanout.forKernel(docs)
          .filter(col("doc_id") % 10 === 0)
          .select(col("doc_id"),
            Bpe.encodeIds(col("text"), merges, vocabIds).as("ids"))
        val packed = graft.operators.Packing.packDocs(
          withIds.select(col("doc_id"), size(col("ids")).cast("long").as("n_toks")),
          "doc_id", "n_toks", budget = 2048L)
        withIds.join(packed, Seq("doc_id"))
          .select(col("seq_id"), col("token_offset"), posexplode(col("ids")))
          .select(col("seq_id"),
            (col("token_offset") - col("seq_id") * 2048 + col("pos"))
              .cast("long").as("pos"),
            col("col").as("token_id"))
      }),

    // ---- q154: the tokenizer VOCABULARY artifact — per subword piece,
    // how many distinct word types contain it and how many corpus token
    // occurrences it covers. This is the "vocab file" a production
    // tokenizer ships; the piece set also audits the merge table (every
    // merged symbol that survived encoding appears here). Work runs at
    // vocabulary grain: the corpus collapses to (word, count) once,
    // segmentation and the piece explode touch only distinct words. ----
    QuerySpec(
      "q154_bpe_vocab",
      Some(s"""
        WITH RECURSIVE $preludeSql,
        wc AS (
          SELECT w, COUNT(*) AS n FROM toks GROUP BY w),
        pieces AS (
          SELECT encw.w, unnest(list_filter(string_split(st, '|'), x -> x <> '')) AS piece
          FROM encw WHERE encw.r = (SELECT COUNT(*) FROM merges))
        SELECT piece, CAST(COUNT(DISTINCT p.w) AS BIGINT) AS n_types,
               CAST(SUM(wc.n) AS BIGINT) AS n_occurrences
        FROM pieces p JOIN wc ON p.w = wc.w
        GROUP BY piece"""),
      (s, dir) => {
        val merges = trainedMerges(s, dir)
        val wc = Tables.load(s, dir, "documents")
          .select(explode(T.tokens(col("text"))).as("w"))
          .groupBy(col("w")).agg(count(lit(1)).as("n"))
        wc.select(col("w"), col("n"),
            explode(Bpe.segment(col("w"), merges)).as("piece"))
          .groupBy(col("piece"))
          .agg(countDistinct(col("w")).as("n_types"),
            sum(col("n")).as("n_occurrences"))
      }),

    // ---- q174: MULTIMODAL TRAINING-RECORD EXPORT — the capstone
    // composition: one row per (sampled) document carrying everything
    // a multimodal trainer's collator consumes, each field produced by
    // an already-pinned pipeline: the BPE token-id sequence (q157's
    // encode, reduced to a position-weighted signature so the row
    // stays scalar for the gate), the image/audio/video perceptual
    // hashes (q152/q159/q162, split lo/hi so 64-bit values stay inside
    // signed BIGINT on both engines), and the image-dedup keeper
    // election over the FULL corpus (q155 — is_duplicate is what the
    // trainer filters on). The oracle staples the five proven replay
    // chains and joins them — ~all of round 11-12's machinery under
    // ONE hash. Engine-side everything composes from operators; the
    // only text scan is the encode, the only corpus-wide exchange the
    // image Hamming candidate join. ----
    QuerySpec(
      "q174_training_export",
      Some(s"""
        WITH RECURSIVE $preludeSql,
        wpieces AS (
          SELECT w, list_filter(string_split(st, '|'), x -> x <> '') AS pieces
          FROM encw WHERE encw.r = (SELECT COUNT(*) FROM merges)),
        idvocab AS (
          SELECT piece, CAST(ROW_NUMBER() OVER (ORDER BY piece) AS INT) AS token_id
          FROM (SELECT DISTINCT unnest(pieces) AS piece FROM wpieces)),
        tokso AS (
          SELECT doc_id, i AS wpos, ts[i] AS w
          FROM (SELECT doc_id, $tokensSql AS ts FROM documents
                WHERE regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') <> ''
                  AND doc_id % 10 = 0),
               UNNEST(generate_series(1, len(ts))) AS t(i)),
        docpieces AS (
          SELECT t.doc_id, t.wpos, p AS ppos, wp.pieces[p] AS piece
          FROM tokso t JOIN wpieces wp ON t.w = wp.w,
               UNNEST(generate_series(1, len(wp.pieces))) AS u(p)),
        ids AS (
          SELECT doc_id, token_id,
                 ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY wpos, ppos) AS pos1
          FROM docpieces JOIN idvocab USING (piece)),
        seqs AS (
          SELECT doc_id, COUNT(*) AS n_ids,
                 CAST(SUM(token_id * pos1) AS BIGINT) AS seq_sig
          FROM ids GROUP BY doc_id),
        img_geom AS (
          SELECT doc_id, doc_id // 5 AS g, CAST(doc_id % 5 AS INT) AS m,
                 CAST(8 + (doc_id // 5) % 3 AS INT) AS w,
                 CAST(8 + (doc_id // 5) % 2 AS INT) AS h
          FROM documents),
        img_samp AS (
          SELECT doc_id, g, m, w, h, j, i,
                 (i * w) // 9 AS x, (j * h) // 8 AS y
          FROM img_geom, UNNEST(range(8)) AS tj(j), UNNEST(range(9)) AS ti(i)),
        img_gray AS (
          SELECT doc_id, j, i, (r*299 + gg*587 + b*114) // 1000 AS gv
          FROM (
            SELECT doc_id, j, i,
                   CASE WHEN pert THEN (((3*g + 5*x + 7*y)*(x + y + 1) + g) % 256 + 128) % 256
                        ELSE ((3*g + 5*x + 7*y)*(x + y + 1) + g) % 256 END AS r,
                   CASE WHEN pert THEN (((11*g + 3*x + 5*y)*(x + 2*y + 1) + 2*g) % 256 + 128) % 256
                        ELSE ((11*g + 3*x + 5*y)*(x + 2*y + 1) + 2*g) % 256 END AS gg,
                   CASE WHEN pert THEN (((7*g + 2*x + 3*y)*(2*x + y + 1) + 3*g) % 256 + 128) % 256
                        ELSE ((7*g + 2*x + 3*y)*(2*x + y + 1) + 3*g) % 256 END AS b
            FROM (SELECT *, m > 0 AND x = (m*3) % w AND y = (m*2) % h AS pert
                  FROM img_samp))),
        img_bits AS (
          SELECT a.doc_id, (a.j * 8 + a.i) // 16 AS chunk,
                 CASE WHEN b.gv > a.gv
                      THEN CAST(1 AS BIGINT) << CAST((a.j*8 + a.i) % 16 AS INT)
                      ELSE CAST(0 AS BIGINT) END AS wgt
          FROM img_gray a JOIN img_gray b
            ON a.doc_id = b.doc_id AND a.j = b.j AND b.i = a.i + 1
          WHERE a.i < 8),
        img_hashes AS (
          SELECT doc_id,
                 CAST(SUM(CASE WHEN chunk = 0 THEN wgt ELSE 0 END) AS BIGINT) AS c0,
                 CAST(SUM(CASE WHEN chunk = 1 THEN wgt ELSE 0 END) AS BIGINT) AS c1,
                 CAST(SUM(CASE WHEN chunk = 2 THEN wgt ELSE 0 END) AS BIGINT) AS c2,
                 CAST(SUM(CASE WHEN chunk = 3 THEN wgt ELSE 0 END) AS BIGINT) AS c3
          FROM img_bits GROUP BY doc_id),
        img_verified AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b
          FROM img_hashes a JOIN img_hashes b ON a.doc_id < b.doc_id
          WHERE bit_count(xor(a.c0, b.c0)) + bit_count(xor(a.c1, b.c1))
              + bit_count(xor(a.c2, b.c2)) + bit_count(xor(a.c3, b.c3)) <= 3),
        img_best AS (
          SELECT id_b AS doc_id, MIN(id_a) AS partner_min
          FROM img_verified GROUP BY 1),
        aud_samp AS (
          SELECT doc_id, t, CAST(t // 64 AS INT) AS f,
                 ((3*(doc_id//5) + 2*t) * (t % 7 + 1) + 5*(doc_id//5)*(t % 13)) % 4096 - 2048
                   + CASE WHEN doc_id % 5 > 0 AND t % 64 = doc_id % 5
                          THEN 7 * (doc_id % 5) ELSE 0 END AS s
          FROM documents, UNNEST(range(576)) AS tt(t)
          WHERE doc_id % 10 = 0),
        aud_energy AS (
          SELECT doc_id, b, f,
                 ABS(SUM(s * CASE WHEN bit_count(b & (t % 64)) % 2 = 0
                                  THEN 1 ELSE -1 END)) AS e
          FROM aud_samp, UNNEST(range(8)) AS bb(b)
          GROUP BY doc_id, b, f),
        aud_bits AS (
          SELECT a.doc_id, (a.b * 8 + a.f) // 16 AS chunk,
                 CASE WHEN n.e > a.e
                      THEN CAST(1 AS BIGINT) << CAST((a.b * 8 + a.f) % 16 AS INT)
                      ELSE CAST(0 AS BIGINT) END AS wgt
          FROM aud_energy a JOIN aud_energy n
            ON n.doc_id = a.doc_id AND n.b = a.b AND n.f = a.f + 1
          WHERE a.f < 8),
        aud_hashes AS (
          SELECT doc_id,
                 CAST(SUM(CASE WHEN chunk = 0 THEN wgt ELSE 0 END) AS BIGINT) AS c0,
                 CAST(SUM(CASE WHEN chunk = 1 THEN wgt ELSE 0 END) AS BIGINT) AS c1,
                 CAST(SUM(CASE WHEN chunk = 2 THEN wgt ELSE 0 END) AS BIGINT) AS c2,
                 CAST(SUM(CASE WHEN chunk = 3 THEN wgt ELSE 0 END) AS BIGINT) AS c3
          FROM aud_bits GROUP BY doc_id),
        vid_geom AS (
          SELECT doc_id, doc_id // 5 AS g, CAST(doc_id % 5 AS INT) AS m,
                 CAST(8 + (doc_id // 5) % 3 AS INT) AS w,
                 CAST(8 + (doc_id // 5) % 2 AS INT) AS h,
                 CAST(10 + (doc_id // 5) % 3 AS INT) AS nf
          FROM documents WHERE doc_id % 10 = 0),
        vid_samp AS (
          SELECT doc_id, g, m, w, h, k, (k * nf) // 9 AS f, x, y
          FROM vid_geom, UNNEST(range(9)) AS tk(k), UNNEST(range(10)) AS tx(x),
               UNNEST(range(9)) AS ty(y)
          WHERE x < w AND y < h),
        vid_luma AS (
          SELECT doc_id, k, (x * 8) // w AS strip,
                 CASE WHEN m > 0 AND f = m
                       AND x = (3*m) % w AND y = (2*m) % h
                      THEN (((3*g + 5*x + 7*y + 2*f)*(x + y + f + 1) + g) % 256 + 128) % 256
                      ELSE ((3*g + 5*x + 7*y + 2*f)*(x + y + f + 1) + g) % 256 END AS yv
          FROM vid_samp),
        vid_sums AS (
          SELECT doc_id, strip, k, SUM(yv) AS sv
          FROM vid_luma GROUP BY doc_id, strip, k),
        vid_bits AS (
          SELECT a.doc_id, (a.strip * 8 + a.k) // 16 AS chunk,
                 CASE WHEN n.sv > a.sv
                      THEN CAST(1 AS BIGINT) << CAST((a.strip * 8 + a.k) % 16 AS INT)
                      ELSE CAST(0 AS BIGINT) END AS wgt
          FROM vid_sums a JOIN vid_sums n
            ON n.doc_id = a.doc_id AND n.strip = a.strip AND n.k = a.k + 1
          WHERE a.k < 8),
        vid_hashes AS (
          SELECT doc_id,
                 CAST(SUM(CASE WHEN chunk = 0 THEN wgt ELSE 0 END) AS BIGINT) AS c0,
                 CAST(SUM(CASE WHEN chunk = 1 THEN wgt ELSE 0 END) AS BIGINT) AS c1,
                 CAST(SUM(CASE WHEN chunk = 2 THEN wgt ELSE 0 END) AS BIGINT) AS c2,
                 CAST(SUM(CASE WHEN chunk = 3 THEN wgt ELSE 0 END) AS BIGINT) AS c3
          FROM vid_bits GROUP BY doc_id)
        SELECT d.doc_id, d.lang,
               COALESCE(s.n_ids, 0) AS n_ids,
               COALESCE(s.seq_sig, 0) AS seq_sig,
               ih.c0 + ih.c1 * 65536 AS img_lo,
               ih.c2 + ih.c3 * 65536 AS img_hi,
               ah.c0 + ah.c1 * 65536 AS aud_lo,
               ah.c2 + ah.c3 * 65536 AS aud_hi,
               vh.c0 + vh.c1 * 65536 AS vid_lo,
               vh.c2 + vh.c3 * 65536 AS vid_hi,
               LEAST(COALESCE(ib.partner_min, d.doc_id), d.doc_id) AS img_keep_id,
               LEAST(COALESCE(ib.partner_min, d.doc_id), d.doc_id) <> d.doc_id
                 AS img_is_dup
        FROM documents d
        LEFT JOIN seqs s USING (doc_id)
        JOIN img_hashes ih USING (doc_id)
        JOIN aud_hashes ah USING (doc_id)
        JOIN vid_hashes vh USING (doc_id)
        LEFT JOIN img_best ib USING (doc_id)
        WHERE d.doc_id % 10 = 0"""),
      (s, dir) => {
        val M = graft.operators.Multimodal
        val docs = Tables.load(s, dir, "documents")
        val merges = trainedMerges(s, dir)
        val vocabIds = Bpe.pieceVocab(docs, "text", merges)
        val all = graft.operators.Fanout.forKernel(docs)
        val sampled = all.filter(col("doc_id") % 10 === 0)
        val bpe = sampled.select(col("doc_id"), col("lang"),
            Bpe.encodeIds(col("text"), merges, vocabIds).as("ids"))
          .select(col("doc_id"), col("lang"),
            size(col("ids")).cast("long").as("n_ids"),
            expr("""aggregate(zip_with(ids, sequence(1, size(ids)),
                      (id, p) -> CAST(id AS BIGINT) * p),
                    CAST(0 AS BIGINT), (a, x) -> a + x)""").as("seq_sig"))
        def lohi(sigs: org.apache.spark.sql.DataFrame, p: String) =
          sigs.select(col("doc_id"),
            col("dhash").bitwiseAND(lit(4294967295L)).as(s"${p}_lo"),
            shiftrightunsigned(col("dhash"), 32).as(s"${p}_hi"))
        // image signatures over the FULL corpus: the keeper election
        // must see every near-dup partner, sampled or not
        val imgSigs = M.dHashImages(
            M.synthesizeNearDupImages(all, "doc_id"), "doc_id")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val pairs = graft.operators.Dedup.hammingPairs(
          imgSigs, "doc_id", "dhash", maxHamming = 3).select("id_a", "id_b")
        val keeper = graft.operators.Dedup.keeperFrom(docs, "doc_id", pairs)
          .select(col("doc_id"), col("keep_id").as("img_keep_id"),
            col("is_duplicate").as("img_is_dup"))
        val aud = lohi(M.audioDHashWavs(
          M.synthesizeNearDupWavs(sampled, "doc_id"), "doc_id"), "aud")
        val vid = lohi(M.videoDHashY4m(
          M.synthesizeNearDupY4m(sampled, "doc_id"), "doc_id"), "vid")
        bpe
          .join(lohi(imgSigs, "img"), Seq("doc_id"))
          .join(aud, Seq("doc_id"))
          .join(vid, Seq("doc_id"))
          .join(keeper, Seq("doc_id"))
      }),

    // ---- q170: tokenizer fertility per language — the metric a
    // tokenizer evaluation actually reports (how many characters one
    // subword token covers, per language; low fertility on a language
    // means the vocab under-serves it and its documents burn budget).
    // chars_per_token at 16 fractional bits via integer division, so
    // the oracle replays it exactly; token counts are the same
    // memoized in-scan encode as q149 (no explode, no extra shuffle —
    // the only exchange is the lang-grain aggregate). ----
    QuerySpec(
      "q170_tokenizer_fertility",
      Some(s"""
        WITH RECURSIVE $preludeSql
        SELECT d.lang, COUNT(*) AS n_docs,
               CAST(SUM(d.n_chars) AS BIGINT) AS sum_chars,
               CAST(SUM(b.n_bpe_tokens) AS BIGINT) AS sum_bpe_tokens,
               CAST(SUM(d.n_chars) AS BIGINT) * 65536
                 // CAST(SUM(b.n_bpe_tokens) AS BIGINT) AS chars_per_token_fp
        FROM documents d JOIN docbpe b USING (doc_id)
        GROUP BY d.lang"""),
      (s, dir) => {
        val merges = trainedMerges(s, dir)
        graft.operators.Fanout.forKernel(Tables.load(s, dir, "documents"))
          .select(col("lang"), col("n_chars"),
            Bpe.bpeTokenCount(col("text"), merges).as("n_bpe"))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_chars"),
            sum(col("n_bpe")).as("sum_bpe_tokens"))
          .withColumn("chars_per_token_fp",
            expr("(sum_chars * 65536) div sum_bpe_tokens"))
      })
  )
}
