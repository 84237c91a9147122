"""DuckDB oracle-SQL generators mirroring the engine's float64 mode.

Each generator returns an ANSI-SQL string (DuckDB dialect) computing the
same result as the corresponding Spark query over the pre-registered
``documents`` / ``embeddings`` views.  The BM25 SQL reproduces the whole
scoring pipeline — whitespace tokenization, SmallFloat byte4 norm
quantization (``SmallFloat.java:103-167``) in integer bit math, the
norm-inverse cache expression (``BM25Similarity.java:205-208``) and the
``weight - weight/(1+freq*cache)`` score (``BM25Similarity.java:240-252``)
— in float64 with the same association order as the engine's
``precision='float64'`` mode.  Scores are rounded to 6 decimals on both
sides; ranking uses the exact (unrounded) doubles on both sides.
"""

from __future__ import annotations

from pim_lucene_spark.functions.tokenize import tokenize_one

_TOK_CTE_TAIL = r"""
docl AS (SELECT doc_id, CAST(len(tks) AS BIGINT) AS dl FROM tok),
cstats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl
  FROM docl
),
positions AS (
  SELECT doc_id, unnest(tks) AS term,
         CAST(generate_subscripts(tks, 1) AS BIGINT) - 1 AS pos
  FROM tok
)"""

TOK_CTE = r"""
tok AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS tks
  FROM documents
),""" + _TOK_CTE_TAIL


def _std_tok_expr(col: str) -> str:
    """The `standard` tokenizer's normalize pipeline in DuckDB SQL — the
    same regex passes as ``functions.tokenize._standard_split`` (RE2 both
    sides): lower → per-char Han/Hiragana → Katakana boundaries →
    protect medial chars (2 passes per rule) → Hebrew geresh → strip
    non-token chars to spaces → 255-char run cap."""
    heb = r"\x{05D0}-\x{05F2}"
    kata = r"\p{Katakana}\x{30FC}"
    x = f"lower({col})"
    x = f"regexp_replace({x}, '[\\x01-\\x05]+', ' ', 'g')"
    x = (f"regexp_replace({x}, '([\\p{{Han}}\\p{{Hiragana}}])', "
         f"' \\1 ', 'g')")
    for _ in range(2):
        x = (f"regexp_replace({x}, '([{kata}])([^{kata}_\\s])', "
             f"'\\1 \\2', 'g')")
        x = (f"regexp_replace({x}, '([^{kata}_\\s])([{kata}])', "
             f"'\\1 \\2', 'g')")
    for _ in range(2):
        for pat, ph in ((r"(\p{L})''(\p{L})", 1),
                        (r"(\p{L})\.(\p{L})", 2),
                        (r"(\p{N})\.(\p{N})", 2),
                        (r"(\p{N}),(\p{N})", 3),
                        (rf"([{heb}])\"([{heb}])", 4)):
            x = (f"regexp_replace({x}, '{pat}', "
                 f"'\\1' || chr({ph}) || '\\2', 'g')")
    x = f"regexp_replace({x}, '([{heb}])''', '\\1' || chr(5) || ' ', 'g')"
    x = (f"regexp_replace({x}, "
         f"'[^\\p{{L}}\\p{{N}}_\\x01-\\x05]+', ' ', 'g')")
    return f"regexp_replace({x}, '([^\\s]{{255}})', '\\1 ', 'g')"


STD_TOK_CTE = (r"""
tok AS (
  SELECT doc_id,
         list_transform(
           list_filter(regexp_split_to_array(trim(""" + _std_tok_expr("text")
               + r"""), '\s+'), x -> x <> ''),
           t -> replace(replace(replace(replace(replace(t,
                        chr(1), chr(39)), chr(2), '.'), chr(3), ','),
                        chr(4), '"'), chr(5), chr(39))) AS tks
  FROM documents
),""" + _TOK_CTE_TAIL)


_ENG_STOPS_SQL = ("('a','an','and','are','as','at','be','but','by','for',"
                  "'if','in','into','is','it','no','not','of','on','or',"
                  "'such','that','the','their','then','there','these',"
                  "'they','this','to','was','will','with')")


def _eng_stem_sql(t: str) -> str:
    """Harman S-stemmer (EnglishMinimalStemmer.java:26-44) in SQL."""
    return (f"(CASE WHEN len({t}) < 3 OR substr({t}, -1) <> 's' THEN {t} "
            f"WHEN substr({t}, -2, 1) IN ('u', 's') THEN {t} "
            f"WHEN substr({t}, -2, 1) = 'e' THEN "
            f"(CASE WHEN len({t}) > 3 AND substr({t}, -3, 1) = 'i' "
            f"AND substr({t}, -4, 1) NOT IN ('a', 'e') "
            f"THEN substr({t}, 1, len({t}) - 3) || 'y' "
            f"WHEN substr({t}, -3, 1) IN ('i', 'a', 'o', 'e') THEN {t} "
            f"ELSE substr({t}, 1, len({t}) - 1) END) "
            f"ELSE substr({t}, 1, len({t}) - 1) END)")


# english analyzer: standard tokenize → possessive strip → stop removal
# (positions keep their pre-removal ordinals — StopFilter gap semantics)
# → S-stem; field length (dl) counts KEPT tokens only, and docs whose
# tokens were all stopwords stay in docl with dl = 0.
ENG_TOK_CTE = (STD_TOK_CTE[:-len(_TOK_CTE_TAIL)] + r"""
pos0 AS (
  SELECT doc_id, regexp_replace(unnest(tks), '''s$', '') AS t,
         CAST(generate_subscripts(tks, 1) AS BIGINT) - 1 AS pos
  FROM tok
),
positions AS (
  SELECT doc_id, """ + _eng_stem_sql("t") + f""" AS term, pos
  FROM pos0 WHERE t NOT IN {_ENG_STOPS_SQL}
),
docl AS (
  SELECT tok.doc_id, CAST(COALESCE(c.cnt, 0) AS BIGINT) AS dl
  FROM tok LEFT JOIN (SELECT doc_id, count(*) AS cnt FROM positions
                      GROUP BY doc_id) c USING (doc_id)
),
cstats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl
  FROM docl
)""")


def _tok_cte(tokenizer: str) -> str:
    if tokenizer == "whitespace":
        return TOK_CTE
    if tokenizer == "standard":
        return STD_TOK_CTE
    if tokenizer == "english":
        return ENG_TOK_CTE
    raise ValueError(f"no oracle CTE for tokenizer {tokenizer!r}")


def _norm_byte_sql(dl: str) -> str:
    """SmallFloat.intToByte4 in SQL bit math (SmallFloat.java:103-156)."""
    v = f"({dl} - 24)"
    log2v = f"CAST(floor(log2({v})) AS BIGINT)"
    return (f"(CASE WHEN {dl} < 24 THEN {dl} "
            f"ELSE 24 + (CASE WHEN {v} < 8 THEN {v} "
            f"ELSE (({v} >> ({log2v} - 3)) & 7) | (({log2v} - 2) << 3) END) "
            f"END)")


def _byte4_to_int_sql(b: str) -> str:
    """SmallFloat.byte4ToInt in SQL bit math (SmallFloat.java:159-167)."""
    v = f"({b} - 24)"
    return (f"(CASE WHEN {b} < 24 THEN {b} "
            f"ELSE 24 + (CASE WHEN ({v} >> 3) = 0 THEN {v} & 7 "
            f"ELSE (({v} & 7) | 8) << (({v} >> 3) - 1) END) END)")


def _quantized_dl(dl: str) -> str:
    return _byte4_to_int_sql(_norm_byte_sql(dl))


def _cache_sql(qdl: str) -> str:
    """1/(k1*((1-b) + b*qdl/avgdl)) in the engine's association order."""
    return (f"(1.0 / (1.2 * ((1.0 - 0.75) + "
            f"(0.75 * CAST({qdl} AS DOUBLE)) / "
            f"(CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))))")


def _idf_sql(term: str) -> str:
    df = (f"(SELECT count(DISTINCT doc_id) FROM positions "
          f"WHERE term = '{_q(term)}')")
    return (f"ln(1.0 + (CAST(n_docs AS DOUBLE) - {df} + 0.5) / ({df} + 0.5))")


def _q(s: str) -> str:
    return s.replace("'", "''")


def _phrase_freq_select(terms: list[str],
                        offsets: tuple | None = None) -> str:
    """Per-doc overlap-counting phrase frequency via m-way position
    joins.  ``offsets`` (english-analyzer gapped PhraseQuery) replace
    the consecutive ``+ i`` shifts."""
    if len(terms) == 1:
        return (f"SELECT doc_id, CAST(count(*) AS BIGINT) AS freq "
                f"FROM positions WHERE term = '{_q(terms[0])}' GROUP BY doc_id")
    joins = []
    for i in range(1, len(terms)):
        off = i if offsets is None else int(offsets[i])
        joins.append(
            f"JOIN positions p{i} ON p{i}.doc_id = p0.doc_id "
            f"AND p{i}.pos = p0.pos + {off} AND p{i}.term = '{_q(terms[i])}'")
    return (f"SELECT p0.doc_id, CAST(count(*) AS BIGINT) AS freq "
            f"FROM positions p0 {' '.join(joins)} "
            f"WHERE p0.term = '{_q(terms[0])}' GROUP BY p0.doc_id")


def phrase_bm25_sql(queries: list[tuple[int, str]], k: int | None = 10,
                    tokenizer: str = "whitespace",
                    round_scores: bool = True,
                    exclude_pred: str | None = None) -> str:
    """Full BM25 top-k SQL for a query batch → (qid, doc_id, freq, score).

    ``round_scores=False`` emits raw doubles — required when the caller
    combines scores across queries/fields before its own final rounding.
    ``exclude_pred`` (a predicate over ``f.doc_id``) drops matching docs
    AFTER scoring and BEFORE the top-k cut — the delete-vector contract:
    df/avgdl still count deleted docs until a merge purges them.
    """
    from pim_lucene_spark.functions.tokenize import tokenize_one_with_offsets
    selects = []
    for qid, text in queries:
        terms, offsets = tokenize_one_with_offsets(text, tokenizer)
        if not terms:
            continue
        weight = "(" + " + ".join(_idf_sql(t) for t in terms) + ")"
        freq_sel = _phrase_freq_select(terms, offsets)
        cache = _cache_sql(_quantized_dl("docl.dl"))
        score_exact = (f"({weight} - {weight} / "
                       f"(1.0 + CAST(f.freq AS DOUBLE) * {cache}))")
        where = (f"WHERE NOT ({exclude_pred}) " if exclude_pred else "")
        qualify = (f"QUALIFY row_number() OVER "
                   f"(ORDER BY {score_exact} DESC, f.doc_id ASC) <= {k} "
                   if k is not None else "")
        score_out = (f"round({score_exact}, 6)" if round_scores
                     else score_exact)
        selects.append(
            f"SELECT CAST({qid} AS BIGINT) AS qid, f.doc_id, f.freq, "
            f"{score_out} AS score "
            f"FROM ({freq_sel}) f "
            f"JOIN docl ON docl.doc_id = f.doc_id, cstats "
            f"{where}{qualify}")
    body = " UNION ALL ".join(selects)
    return f"WITH {_tok_cte(tokenizer)} {body}"


def _argmin_sql(cp: str, offs: str, n: int) -> str:
    """1-based ord of the pq-min cursor: min by (position, offset, ord) —
    offset and ord are both ``o-1`` here, so the composite key
    ``(pos + bias) * (n+1) + o`` reproduces PhraseQueue.java:27-40."""
    key = f"list_transform({offs}, o -> ({cp}[o] + 1048576) * {n + 1} + o)"
    return f"list_position({key}, list_min({key}))"


def _nxt_sql(cp: str, offs: str, cur: str) -> str:
    """min position among the cursors still in the queue (pq.top after pop)."""
    return (f"list_min(list_transform(list_filter({offs}, o -> o <> {cur}),"
            f" o -> {cp}[o]))")


def _sloppy_rec_ctes(qid: int, terms: list[str], slop: int) -> tuple[str, str]:
    """Recursive-CTE state machine computing Lucene SloppyPhraseMatcher's
    per-doc sloppy freq (``SloppyPhraseMatcher.java:174-206``) for one
    query.  One CTE iteration = one cursor advance; state carries the
    0-based occurrence index per phrase offset (``ii``), the popped cursor
    (``cur``), the largest adjusted position ever seen (``end_``), the
    current match length (``ml``), the runner-up position (``nxt``) and the
    accumulated freq.  Repeat groups: the j-th same-term offset starts at
    occurrence j (init, :435-467); a collision (two same-term cursors on
    one occurrence, i.e. equal ``ii``) advances the larger-offset member —
    the 'lesser by (position, offset)' of the pair (:286-331).

    Returns ``(cte_text, freq_cte_name)``.
    """
    name = f"q{qid}"
    if len(terms) == 1:
        cte = (f"{name}_freq AS (SELECT doc_id, CAST(count(*) AS DOUBLE) AS "
               f"freq FROM positions WHERE term = '{_q(terms[0])}' "
               f"GROUP BY doc_id)")
        return cte, f"{name}_freq"
    n = len(terms)
    offs = "[" + ",".join(str(o) for o in range(1, n + 1)) + "]"
    seen: dict[str, int] = {}
    rptind = []
    for t in terms:
        rptind.append(seen.get(t, 0))
        seen[t] = seen.get(t, 0) + 1
    rpt_lit = "[" + ",".join(f"CAST({r} AS BIGINT)" for r in rptind) + "]"
    groups = [[o + 1 for o, t2 in enumerate(terms) if t2 == t]
              for t, c in seen.items() if c > 1]
    distinct = ", ".join(f"'{_q(t)}'" for t in dict.fromkeys(terms))
    pls = ", ".join(
        f"coalesce(list_sort(list(pos) FILTER (WHERE term = '{_q(t)}')), [])"
        for t in terms)
    presence = " AND ".join(f"len(pls[{o + 1}]) > {rptind[o]}"
                            for o in range(n))

    def collide(ii: str) -> str:
        """First colliding pair's larger-offset member, else 0."""
        cases = []
        for g in groups:
            for x in range(len(g)):
                for y in range(x + 1, len(g)):
                    cases.append(f"WHEN {ii}[{g[x]}] = {ii}[{g[y]}] "
                                 f"THEN {g[y]}")
        if not cases:
            return "0"
        return "(CASE " + " ".join(cases) + " ELSE 0 END)"

    cp = f"list_transform({offs}, o -> pls[o][ii[o] + 1] - (o - 1))"
    seed = f"""
{name}_s0 AS (
  SELECT doc_id, pls, {rpt_lit} AS ii
  FROM (SELECT doc_id, [{pls}] AS pls
        FROM positions WHERE term IN ({distinct}) GROUP BY doc_id)
  WHERE {presence}),
{name}_s1 AS (SELECT doc_id, pls, ii, {cp} AS cp FROM {name}_s0),
{name}_s2 AS (SELECT doc_id, pls, ii, cp, list_max(cp) AS end_,
                     {_argmin_sql('cp', offs, n)} AS cur FROM {name}_s1),
{name}_seed AS (
  SELECT doc_id, pls, ii, end_, cur,
         end_ - cp[cur] AS ml, {_nxt_sql('cp', offs, 'cur')} AS nxt,
         CAST(0.0 AS DOUBLE) AS freq, FALSE AS done
  FROM {name}_s2)"""

    w_ml = f"CASE WHEN ml <= {slop} THEN 1.0 / (1.0 + ml) ELSE 0.0 END"
    ncp = f"list_transform({offs}, o -> pls[o][nii[o] + 1] - (o - 1))"
    step_inner = f"""
    SELECT doc_id, pls, ii, end_, cur, ml, nxt, freq,
           CASE WHEN {collide('ii')} > 0 THEN {collide('ii')}
                ELSE cur END AS adv
    FROM {name}_rec WHERE NOT done"""
    step_mid = f"""
    SELECT *, list_transform({offs},
                o -> ii[o] + CASE WHEN o = adv THEN 1 ELSE 0 END) AS nii
    FROM ({step_inner})"""
    step_mid2 = f"""
    SELECT *, nii[adv] >= len(pls[adv]) AS exh,
           CASE WHEN nii[adv] >= len(pls[adv]) THEN NULL
                ELSE {ncp} END AS ncp
    FROM ({step_mid})"""
    step_mid3 = f"""
    SELECT *, CASE WHEN exh THEN end_ ELSE greatest(end_, ncp[adv]) END
                AS nend,
           NOT exh AND {collide('nii')} > 0 AS coll,
           NOT exh AND {collide('nii')} = 0 AND ncp[cur] > nxt AS pop
    FROM ({step_mid2})"""
    pop_cur = _argmin_sql("ncp", offs, n)
    step = f"""
    SELECT doc_id, pls, nii AS ii, nend AS end_,
           CASE WHEN pop THEN {pop_cur} ELSE cur END AS cur,
           CASE WHEN exh OR coll THEN ml
                WHEN pop THEN nend - ncp[{pop_cur}]
                ELSE least(ml, nend - ncp[cur]) END AS ml,
           CASE WHEN pop THEN {_nxt_sql('ncp', offs, pop_cur)}
                ELSE nxt END AS nxt,
           CASE WHEN exh OR pop THEN freq + ({w_ml}) ELSE freq END AS freq,
           exh AS done
    FROM ({step_mid3})"""
    rec = f"""
{name}_rec AS (
  SELECT * FROM {name}_seed
  UNION ALL
  {step}),
{name}_freq AS (SELECT doc_id, freq FROM {name}_rec
                WHERE done AND freq > 0.0)"""
    return seed + "," + rec, f"{name}_freq"


def sloppy_phrase_bm25_sql(queries: list[tuple[int, str]], slop: int,
                           k: int | None = 10,
                           tokenizer: str = "whitespace") -> str:
    """BM25 top-k SQL for sloppy phrases → (qid, doc_id, freq, score).

    ``freq`` is DOUBLE — the sum of Lucene sloppy weights in the greedy
    traversal's emission order, computed by a recursive-CTE re-expression
    of ``SloppyPhraseMatcher`` (repeated query terms included), so the
    float64 accumulation sequence matches the engine's bit-for-bit.
    """
    ctes, selects = [], []
    for qid, text in queries:
        terms = tokenize_one(text, tokenizer)
        if not terms:
            continue
        cte, freq_name = _sloppy_rec_ctes(qid, terms, slop)
        ctes.append(cte)
        weight = "(" + " + ".join(_idf_sql(t) for t in terms) + ")"
        cache = _cache_sql(_quantized_dl("docl.dl"))
        score_exact = (f"({weight} - {weight} / "
                       f"(1.0 + CAST(f.freq AS DOUBLE) * {cache}))")
        qualify = (f"QUALIFY row_number() OVER "
                   f"(ORDER BY {score_exact} DESC, f.doc_id ASC) <= {k} "
                   if k is not None else "")
        selects.append(
            f"SELECT CAST({qid} AS BIGINT) AS qid, f.doc_id, "
            f"round(f.freq, 6) AS freq, round({score_exact}, 6) AS score "
            f"FROM {freq_name} f "
            f"JOIN docl ON docl.doc_id = f.doc_id, cstats "
            f"{qualify}")
    body = " UNION ALL ".join(selects)
    return (f"WITH RECURSIVE {_tok_cte(tokenizer)}, "
            + ", ".join(ctes) + f" {body}")


def _clause_select(terms: list[str], boost: float = 1.0) -> str:
    """Per-clause (doc_id, score) select — the unrounded BM25 phrase/term
    score used by boolean composition (same expression tree as
    ``phrase_bm25_sql``)."""
    weight = ("(" + repr(float(boost)) + " * ("
              + " + ".join(_idf_sql(t) for t in terms) + "))")
    cache = _cache_sql(_quantized_dl("docl.dl"))
    score = (f"({weight} - {weight} / "
             f"(1.0 + CAST(f.freq AS DOUBLE) * {cache}))")
    return (f"SELECT f.doc_id, {score} AS score "
            f"FROM ({_phrase_freq_select(terms)}) f "
            f"JOIN docl ON docl.doc_id = f.doc_id, cstats")


def boolean_bm25_sql(queries: list[tuple[int, dict]], k: int | None = 10,
                     tokenizer: str = "whitespace",
                     round_scores: bool = True) -> str:
    """BooleanQuery oracle → (qid, doc_id, score).

    ``queries``: ``(qid, {"must": [...], "should": [...], "must_not":
    [...], "filter": [...], "boost": b})``.  Composes with the engine's
    ``BooleanWeight`` semantics (``plans/boolean.py``): inner joins for
    MUST/FILTER, left joins for SHOULD under a base, chained FULL joins
    for pure-SHOULD, NOT EXISTS for MUST_NOT, and a coalesce-chain score
    sum in clause-declaration order — the association the compound
    kernel uses (deterministic — hash-safe)."""
    ctes, selects = [], []
    for qid, spec in queries:
        boost = float(spec.get("boost", 1.0))
        names: dict[str, list[str]] = {}
        for role in ("must", "filter", "should", "must_not"):
            names[role] = []
            for j, cl in enumerate(spec.get(role, [])):
                cname = f"q{qid}_{role}{j}"
                scoring = role in ("must", "should")
                from pim_lucene_spark.plans.multiterm import (FuzzyQuery,
                                                              MultiTermQueryT)
                if isinstance(cl, MultiTermQueryT):
                    # in-boolean multi-term clause: constant-score rewrite
                    # (score == clause boost), mirroring search_boolean
                    if isinstance(cl, FuzzyQuery):
                        raise ValueError("fuzzy-in-boolean has no SQL "
                                         "oracle (top-terms scoring); "
                                         "engine-tested only")
                    cboost = (float(cl.boost) * boost if scoring else 1.0)
                    ctes.append(
                        f"{cname} AS (SELECT DISTINCT doc_id, "
                        f"CAST({cboost!r} AS DOUBLE) AS score "
                        f"FROM positions WHERE {_mt_pred(cl)})")
                    names[role].append(cname)
                    continue
                from pim_lucene_spark.plans.query import (MatchAllDocsQuery,
                                                          PhraseQuery)
                if isinstance(cl, dict):
                    # nested group clause: the inner boolean's whole
                    # score, boolean boost pushed down to scoring groups
                    inner = dict(cl)
                    if scoring and boost != 1.0:
                        inner["boost"] = (float(inner.get("boost", 1.0))
                                          * boost)
                    inner_sql = boolean_bm25_sql(
                        [(0, inner)], k=None, tokenizer=tokenizer,
                        round_scores=False)
                    ctes.append(f"{cname} AS (SELECT doc_id, score "
                                f"FROM ({inner_sql}))")
                    names[role].append(cname)
                    continue
                if isinstance(cl, MatchAllDocsQuery):
                    cboost = (float(cl.boost) * boost if scoring else 1.0)
                    ctes.append(
                        f"{cname} AS (SELECT doc_id, "
                        f"CAST({cboost!r} AS DOUBLE) AS score "
                        f"FROM documents)")
                    names[role].append(cname)
                    continue
                if isinstance(cl, PhraseQuery) and int(cl.slop) != 0:
                    # sloppy clause: recursive-CTE SloppyPhraseMatcher
                    # freq + the scan path's BM25 expression
                    terms = tokenize_one(cl.text, tokenizer)
                    uid = 9000 + len(ctes)   # unique CTE namespace
                    rec, freq_name = _sloppy_rec_ctes(uid, terms,
                                                      int(cl.slop))
                    ctes.append(rec)
                    cboost = (float(cl.boost) * boost if scoring else 1.0)
                    weight = (f"({cboost!r} * ("
                              + " + ".join(_idf_sql(t) for t in terms)
                              + "))")
                    cache = _cache_sql(_quantized_dl("docl.dl"))
                    score = (f"({weight} - {weight} / "
                             f"(1.0 + CAST(f.freq AS DOUBLE) * {cache}))")
                    ctes.append(
                        f"{cname} AS (SELECT f.doc_id, {score} AS score "
                        f"FROM {freq_name} f "
                        f"JOIN docl ON docl.doc_id = f.doc_id, cstats)")
                    names[role].append(cname)
                    continue
                # clause entries are texts, (text, clause_boost) tuples,
                # or typed exact TermQuery/PhraseQuery objects
                if isinstance(cl, tuple):
                    text, clboost = cl
                else:
                    text = getattr(cl, "text", cl)
                    clboost = float(getattr(cl, "boost", 1.0))
                terms = tokenize_one(text, tokenizer)
                cboost = clboost * boost if scoring else 1.0
                ctes.append(f"{cname} AS ({_clause_select(terms, cboost)})")
                names[role].append(cname)
        score_cols, from_sql, base = [], "", None
        for i, c in enumerate(names["must"]):
            alias = f"m{i}"
            score_cols.append(f"{alias}.score")
            from_sql += (f"{c} {alias}" if base is None
                         else f" JOIN {c} {alias} USING (doc_id)")
            base = alias
        for i, c in enumerate(names["filter"]):
            alias = f"ff{i}"
            from_sql += (f"{c} {alias}" if base is None
                         else f" JOIN {c} {alias} USING (doc_id)")
            base = alias
        if base is not None:
            for i, c in enumerate(names["should"]):
                alias = f"s{i}"
                score_cols.append(f"{alias}.score")
                from_sql += f" LEFT JOIN {c} {alias} USING (doc_id)"
        else:
            for i, c in enumerate(names["should"]):
                alias = f"s{i}"
                score_cols.append(f"{alias}.score")
                from_sql += (f"{c} {alias}" if i == 0
                             else f" FULL JOIN {c} {alias} USING (doc_id)")
        total = " + ".join(f"coalesce({sc}, 0.0)" for sc in score_cols) \
            or "0.0"
        should_aliases = [f"s{i}" for i in range(len(names["should"]))]
        had_base = bool(names["must"] or names["filter"])
        msm = int(spec.get("min_should_match", 0))
        required = msm if had_base else max(1, msm)
        n_should = " + ".join(
            f"(CASE WHEN {a}.score IS NOT NULL THEN 1 ELSE 0 END)"
            for a in should_aliases) or "0"
        conds = []
        if should_aliases and (required > 1 or (had_base and required > 0)):
            conds.append(f"b.n_should >= {required}")
        conds += [
            f"NOT EXISTS (SELECT 1 FROM {c} WHERE {c}.doc_id = b.doc_id)"
            for c in names["must_not"]]
        where = f"WHERE {' AND '.join(conds)}" if conds else ""
        qualify = (f"QUALIFY row_number() OVER "
                   f"(ORDER BY b.total DESC, b.doc_id ASC) <= {k}"
                   if k is not None else "")
        selects.append(
            f"SELECT CAST({qid} AS BIGINT) AS qid, b.doc_id, "
            + ("round(b.total, 6)" if round_scores else "b.total")
            + " AS score FROM "
            f"(SELECT doc_id, {total} AS total, {n_should} AS n_should "
            f"FROM {from_sql}) b "
            f"{where} {qualify}")
    # RECURSIVE needed when a sloppy clause added its state-machine CTEs;
    # harmless otherwise
    return (f"WITH RECURSIVE {_tok_cte(tokenizer)}, " + ", ".join(ctes)
            + " " + " UNION ALL ".join(selects))


def mlt_bm25_sql(queries: list[tuple[int, int]], k: int | None = 10,
                 max_query_terms: int = 25, min_term_freq: int = 2,
                 min_doc_freq: int = 5, tokenizer: str = "whitespace",
                 round_scores: bool = True) -> str:
    """MoreLikeThis oracle → (qid, doc_id, score).

    ``queries``: ``(qid, source_doc_id)``.  Mirrors ``plans/mlt.py``:
    interesting-term selection (tf·idf with ClassicSimilarity's
    ``ln((N+1)/(df+1)) + 1``, gated, score desc / term asc, top
    ``max_query_terms``) entirely in SQL, then the pure-SHOULD BM25 sum
    — per doc an ORDERED ``list_reduce`` fold over the clause scores in
    term-asc order, the exact float64 association the engine's sorted
    clause list produces."""
    ctes = [
        "mlt_df AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT)"
        " AS df FROM positions GROUP BY term)"]
    selects = []
    cache = _cache_sql(_quantized_dl("docl.dl"))
    for qid, src in queries:
        sel_score = (f"(CAST(t.tf AS DOUBLE) * (ln("
                     f"CAST(n_docs + 1 AS DOUBLE) / "
                     f"CAST(s.df + 1 AS DOUBLE)) + 1.0))")
        ctes.append(
            f"mlt{qid}_tf AS (SELECT term, CAST(count(*) AS BIGINT) AS tf"
            f" FROM positions WHERE doc_id = {int(src)} GROUP BY term)")
        ctes.append(
            f"mlt{qid}_sel AS (SELECT t.term, s.df "
            f"FROM mlt{qid}_tf t JOIN mlt_df s USING (term), cstats "
            f"WHERE t.tf >= {min_term_freq} AND s.df >= {min_doc_freq} "
            f"QUALIFY row_number() OVER (ORDER BY {sel_score} DESC, "
            f"t.term ASC) <= {max_query_terms})")
        w = ("ln(1.0 + (CAST(n_docs AS DOUBLE) - sel.df + 0.5) / "
             "(sel.df + 0.5))")
        ctes.append(
            f"mlt{qid}_m AS (SELECT p.doc_id, p.term, "
            f"({w} - {w} / (1.0 + CAST(count(*) AS DOUBLE) * {cache})) "
            f"AS cscore "
            f"FROM positions p JOIN mlt{qid}_sel sel USING (term) "
            f"JOIN docl ON docl.doc_id = p.doc_id, cstats "
            f"GROUP BY p.doc_id, p.term, sel.df, docl.dl, "
            f"cstats.n_docs, cstats.sum_dl)")
        qualify = (f"QUALIFY row_number() OVER (ORDER BY score DESC, "
                   f"doc_id ASC) <= {k}" if k is not None else "")
        selects.append(
            f"SELECT qid, doc_id, "
            + ("round(score, 6)" if round_scores else "score")
            + " AS score FROM ("
            f"SELECT CAST({qid} AS BIGINT) AS qid, doc_id, "
            f"list_reduce(list(cscore ORDER BY term ASC), "
            f"(a, b) -> a + b) AS score "
            f"FROM mlt{qid}_m GROUP BY doc_id) s {qualify}")
    return (f"WITH {_tok_cte(tokenizer)}, " + ", ".join(ctes)
            + " " + " UNION ALL ".join(selects))


def synonym_bm25_sql(queries: list[tuple[int, list, float]],
                     k: int | None = 10,
                     tokenizer: str = "whitespace",
                     round_scores: bool = True) -> str:
    """SynonymQuery oracle → (qid, doc_id, score).

    ``queries``: ``(qid, [(term, tboost), ...], boost)``.  Mirrors
    ``SynonymQuery.java`` as the engine kernel runs it
    (``plans/compound.py::_syn_match``, float64 mode): per-doc
    ``freq = Σ tboostᵢ·tfᵢ`` accumulated in term-declaration order
    (coalesce-0 chain — adding 0.0 is the identity, same bits as the
    engine skipping absent terms), ONE idf from the merged pseudo-term
    docFreq (``greatest`` of the per-term dfs; absent terms are df 0),
    ``score = w − w/(1 + freq·cache)``, top-k (score desc, doc asc).
    """
    ctes, selects = [], []
    for qid, term_boosts, boost in queries:
        names = []
        for j, (t, _) in enumerate(term_boosts):
            cname = f"syn{qid}_t{j}"
            ctes.append(
                f"{cname} AS (SELECT doc_id, "
                f"CAST(count(*) AS DOUBLE) AS tf FROM positions "
                f"WHERE term = '{_q(t)}' GROUP BY doc_id)")
            names.append(cname)
        from_sql = ""
        for i, c in enumerate(names):
            alias = f"t{i}"
            from_sql += (f"{c} {alias}" if i == 0
                         else f" FULL JOIN {c} {alias} USING (doc_id)")
        freq = "0.0"
        for i, (_, tb) in enumerate(term_boosts):
            freq = f"({freq} + {float(tb)!r} * coalesce(t{i}.tf, 0.0))"
        dfs = ", ".join(
            f"(SELECT count(DISTINCT doc_id) FROM positions "
            f"WHERE term = '{_q(t)}')" for t, _ in term_boosts)
        mdf = dfs if len(term_boosts) == 1 else f"greatest({dfs})"
        weight = (f"({float(boost)!r} * ln(1.0 + "
                  f"(CAST(n_docs AS DOUBLE) - {mdf} + 0.5) / "
                  f"({mdf} + 0.5)))")
        cache = _cache_sql(_quantized_dl("docl.dl"))
        score = (f"({weight} - {weight} / "
                 f"(1.0 + b.freq * {cache}))")
        qualify = (f"QUALIFY row_number() OVER "
                   f"(ORDER BY score DESC, doc_id ASC) <= {k}"
                   if k is not None else "")
        selects.append(
            f"SELECT qid, doc_id, "
            + ("round(score, 6)" if round_scores else "score")
            + " AS score FROM ("
            f"SELECT CAST({qid} AS BIGINT) AS qid, b.doc_id, "
            f"{score} AS score "
            f"FROM (SELECT doc_id, {freq} AS freq FROM {from_sql}) b "
            f"JOIN docl ON docl.doc_id = b.doc_id, cstats) s {qualify}")
    return (f"WITH {_tok_cte(tokenizer)}, " + ", ".join(ctes)
            + " " + " UNION ALL ".join(selects))


def dismax_bm25_sql(queries: list[tuple[int, dict]], k: int | None = 10,
                    tokenizer: str = "whitespace") -> str:
    """DisjunctionMaxQuery oracle → (qid, doc_id, score).

    ``queries``: ``(qid, {"clauses": [text, ...], "tie": t, "boost": b})``
    with optional per-clause ``(text, boost)`` tuples.  Per-clause BM25
    selects chained with FULL joins, ``greatest`` of coalesced scores +
    tie * (ordered sum − max), boost multiplied at the top — the same
    float64 association order as the compound kernel's dismax fold
    (``plans/dismax.py``), so hashes match."""
    ctes, selects = [], []
    for qid, spec in queries:
        tie = float(spec.get("tie", 0.0))
        boost = float(spec.get("boost", 1.0))
        names = []
        for j, cl in enumerate(spec["clauses"]):
            text, cboost = (cl if isinstance(cl, tuple) else (cl, 1.0))
            terms = tokenize_one(text, tokenizer)
            cname = f"dq{qid}_c{j}"
            ctes.append(f"{cname} AS ({_clause_select(terms, cboost)})")
            names.append(cname)
        from_sql, cols = "", []
        for i, c in enumerate(names):
            alias = f"c{i}"
            cols.append(f"coalesce({alias}.score, 0.0)")
            from_sql += (f"{c} {alias}" if i == 0
                         else f" FULL JOIN {c} {alias} USING (doc_id)")
        mx = cols[0] if len(cols) == 1 else f"greatest({', '.join(cols)})"
        total = " + ".join(cols)
        score = f"({mx} + {tie!r} * (({total}) - {mx}))"
        if boost != 1.0:
            score = f"({score} * {boost!r})"
        qualify = (f"QUALIFY row_number() OVER "
                   f"(ORDER BY {score} DESC, doc_id ASC) <= {k}"
                   if k is not None else "")
        selects.append(
            f"SELECT CAST({qid} AS BIGINT) AS qid, doc_id, "
            f"round({score}, 6) AS score FROM {from_sql} {qualify}")
    return (f"WITH {_tok_cte(tokenizer)}, " + ", ".join(ctes)
            + " " + " UNION ALL ".join(selects))


def constant_wrappers_sql(queries: list[tuple[int, object]],
                          k: int | None = 10,
                          tokenizer: str = "whitespace") -> str:
    """MatchAllDocs / ConstantScore oracle → (qid, doc_id, score): the
    match set with a constant boost score, k smallest doc ids."""
    from pim_lucene_spark.plans.query import (ConstantScoreQuery,
                                              MatchAllDocsQuery)
    selects = []
    for qid, q in queries:
        boost = float(q.boost)
        if isinstance(q, MatchAllDocsQuery):
            inner = "SELECT doc_id FROM documents"
        elif isinstance(q, ConstantScoreQuery):
            text = getattr(q.query, "text", q.query)
            terms = tokenize_one(text, tokenizer)
            inner = (f"SELECT doc_id FROM "
                     f"({_phrase_freq_select(terms)})")
        else:
            raise TypeError(f"unsupported wrapper {q!r}")
        limit = f"ORDER BY doc_id LIMIT {k}" if k is not None else ""
        selects.append(
            f"SELECT CAST({qid} AS BIGINT) AS qid, doc_id, "
            f"{boost!r} AS score FROM ({inner} {limit})")
    return (f"WITH {_tok_cte(tokenizer)} " + " UNION ALL ".join(selects))


def suggest_sql(prefix: str, k: int = 10, by: str = "doc_freq",
                tokenizer: str = "whitespace") -> str:
    """Prefix-suggester oracle → (term, doc_freq, total_tf) — the term
    dictionary recomputed from the raw corpus."""
    return (f"WITH {_tok_cte(tokenizer)} "
            f"SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS "
            f"doc_freq, CAST(count(*) AS BIGINT) AS total_tf "
            f"FROM positions WHERE starts_with(term, '{_q(prefix)}') "
            f"GROUP BY term QUALIFY row_number() OVER "
            f"(ORDER BY {by} DESC, term ASC) <= {k}")


def count_sql(queries: list[tuple[int, object]],
              tokenizer: str = "whitespace") -> str:
    """Hit-count oracle → (qid, n_hits); queries are texts (multi-token
    = phrase) or multi-term query objects (distinct-doc union)."""
    from pim_lucene_spark.plans.multiterm import MultiTermQueryT
    selects = []
    for qid, q in queries:
        if isinstance(q, MultiTermQueryT):
            selects.append(
                f"SELECT CAST({qid} AS BIGINT) AS qid, "
                f"CAST(count(DISTINCT doc_id) AS BIGINT) AS n_hits "
                f"FROM positions WHERE {_mt_pred(q)}")
            continue
        text = getattr(q, "text", q)
        terms = tokenize_one(text, tokenizer)
        selects.append(
            f"SELECT CAST({qid} AS BIGINT) AS qid, "
            f"CAST(count(*) AS BIGINT) AS n_hits "
            f"FROM ({_phrase_freq_select(terms)})")
    return (f"WITH {_tok_cte(tokenizer)} " + " UNION ALL ".join(selects))


def bm25f_sql(queries: list[tuple[int, str]], field_docs: dict[str, str],
              weights: dict[str, float], k: int | None = 10) -> str:
    """BM25F (sandbox CombinedFieldQuery) SQL → (qid, doc_id, freq, score).

    ``field_docs`` maps field name → a ``SELECT doc_id, text ...`` defining
    that field's document view.  Reproduces ``CombinedFieldQuery.java:
    322-470``: pseudo-term df = max over (field, term) pairs, pseudo ttf /
    collection sumTTF = Σ⌊w·x⌋ per addition, one idf, per-doc freq =
    Σ w_f·tf, norm = re-encode(round(Σ w_f·decoded_norm_f)).  Weights must
    be small dyadic rationals so float32 (engine) == float64 (this SQL)
    on every partial sum.
    """
    fields = list(field_docs)
    ctes = []
    for f in fields:
        ctes.append(f"""
{f}_tok AS (SELECT doc_id, list_filter(regexp_split_to_array(trim(text),
            '\\s+'), x -> x <> '') AS tks FROM ({field_docs[f]})),
{f}_docl AS (SELECT doc_id, CAST(len(tks) AS BIGINT) AS dl FROM {f}_tok),
{f}_pos AS (SELECT doc_id, unnest(tks) AS term FROM {f}_tok),
{f}_stats AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df,
              CAST(count(*) AS BIGINT) AS ttf FROM {f}_pos GROUP BY term),
{f}_cs AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(coalesce(sum(dl), 0) AS BIGINT) AS sum_dl FROM {f}_docl)""")
    n_docs = "greatest(" + ", ".join(
        f"(SELECT n_docs FROM {f}_cs)" for f in fields) + ")"
    sum_dl = " + ".join(
        f"(SELECT CAST(floor({float(weights[f])!r} * sum_dl) AS BIGINT) "
        f"FROM {f}_cs)" for f in fields)
    ctes.append(f"pseudo_cs AS (SELECT {n_docs} AS n_docs, "
                f"CAST({sum_dl} AS BIGINT) AS sum_dl)")

    # combined norm byte per doc (MultiNormsLeafSimScorer.java:140-153)
    joins = f"(SELECT doc_id, dl AS dl_{fields[0]} FROM {fields[0]}_docl) "
    for f in fields[1:]:
        joins += (f"FULL JOIN (SELECT doc_id, dl AS dl_{f} FROM {f}_docl) "
                  f"USING (doc_id) ")
    nv = " + ".join(
        f"(CASE WHEN dl_{f} IS NULL THEN 0.0 ELSE "
        f"{float(weights[f])!r} * {_quantized_dl(f'dl_{f}')} END)"
        for f in fields)
    qdl = _byte4_to_int_sql(_norm_byte_sql("CAST(floor(nv + 0.5) AS BIGINT)"))
    ctes.append(f"normd AS (SELECT doc_id, {qdl} AS qdl FROM "
                f"(SELECT doc_id, {nv} AS nv FROM {joins}))")

    selects = []
    for qid, text in queries:
        terms = list(dict.fromkeys(tokenize_one(text)))
        if not terms:
            continue
        in_list = ", ".join(f"'{_q(t)}'" for t in terms)
        df = "greatest(" + ", ".join(
            f"coalesce((SELECT df FROM {f}_stats WHERE term = '{_q(t)}'), 0)"
            for f in fields for t in terms) + ")"
        freq_parts = " UNION ALL ".join(
            f"SELECT doc_id, {float(weights[f])!r} * "
            f"CAST(count(*) AS DOUBLE) AS wtf "
            f"FROM {f}_pos WHERE term IN ({in_list}) GROUP BY doc_id"
            for f in fields)
        idf_expr = (f"ln(1.0 + (CAST(n_docs AS DOUBLE) - qdf + 0.5) "
                    f"/ (qdf + 0.5))")
        cache = _cache_sql("f.qdl")
        score = (f"({idf_expr} - {idf_expr} / "
                 f"(1.0 + f.freq * {cache}))")
        qualify = (f"QUALIFY row_number() OVER "
                   f"(ORDER BY {score} DESC, f.doc_id ASC) <= {k} "
                   if k is not None else "")
        selects.append(f"""
SELECT CAST({qid} AS BIGINT) AS qid, f.doc_id, round(f.freq, 6) AS freq,
       round({score}, 6) AS score
FROM (SELECT fr.doc_id, fr.freq, nd.qdl
      FROM (SELECT doc_id, sum(wtf) AS freq FROM ({freq_parts})
            GROUP BY doc_id) fr
      JOIN normd nd ON nd.doc_id = fr.doc_id) f,
     pseudo_cs, (SELECT {df} AS qdf) qs
WHERE qdf > 0 {qualify}""")
    return "WITH " + ",".join(ctes) + " " + " UNION ALL ".join(selects)


def _mt_pred(q, col: str = "term") -> str:
    """DuckDB predicate matching a multi-term query's expansion set —
    the same set the engine reads off the stats table (indexed terms ==
    distinct corpus terms)."""
    from pim_lucene_spark.plans.multiterm import (
        FuzzyQuery, PrefixQuery, RegexpQuery, TermRangeQuery,
        WildcardQuery, wildcard_to_regex)
    if isinstance(q, PrefixQuery):
        return f"starts_with({col}, '{_q(q.prefix)}')"
    if isinstance(q, WildcardQuery):
        rx = "^" + wildcard_to_regex(q.pattern) + "$"
        return f"regexp_matches({col}, '{_q(rx)}')"
    if isinstance(q, RegexpQuery):
        return f"regexp_matches({col}, '^{_q(q.regexp)}$')"
    if isinstance(q, TermRangeQuery):
        parts = []
        if q.lower is not None:
            parts.append(f"{col} {'>=' if q.include_lower else '>'} "
                         f"'{_q(q.lower)}'")
        if q.upper is not None:
            parts.append(f"{col} {'<=' if q.include_upper else '<'} "
                         f"'{_q(q.upper)}'")
        return "(" + " AND ".join(parts or ["TRUE"]) + ")"
    if isinstance(q, FuzzyQuery):
        if q.transpositions:
            raise ValueError("fuzzy oracle supports transpositions=False "
                             "only (DuckDB has no OSA distance; the OSA "
                             "path is pytest-verified instead)")
        plen, qt = q.prefix_length, q.term
        parts = [f"abs(length({col}) - {len(qt)}) <= {q.max_edits}",
                 f"levenshtein(substring({col}, {plen + 1}), "
                 f"'{_q(qt[plen:])}') <= {q.max_edits}"]
        if plen:
            parts.append(f"starts_with({col}, '{_q(qt[:plen])}')")
        return "(" + " AND ".join(parts) + ")"
    raise TypeError(f"no oracle predicate for {q!r}")


def _mt_exp_cte(qid: int, q) -> str:
    """Expansion CTE ``mtexp{qid}(term, tboost)`` — fuzzy replicates the
    engine's float32 per-term boost (``FuzzyTermsEnum.java:249-256``) and
    the (boost desc, term asc) top-``max_expansions`` selection
    (``TopTermsRewrite.java:199-213``)."""
    from pim_lucene_spark.plans.multiterm import FuzzyQuery
    vocab = "(SELECT DISTINCT term FROM positions)"
    if isinstance(q, FuzzyQuery):
        plen, qt = q.prefix_length, q.term
        ed = (f"levenshtein(substring(term, {plen + 1}), "
              f"'{_q(qt[plen:])}')")
        boost = (f"(CASE WHEN {ed} = 0 THEN CAST(1.0 AS DOUBLE) ELSE "
                 f"CAST(CAST(CAST(1.0 AS REAL) - CAST({ed} AS REAL) / "
                 f"CAST(least(length(term), {len(qt)}) AS REAL) AS REAL) "
                 f"AS DOUBLE) END)")
        return (f"mtexp{qid} AS (SELECT term, {boost} AS tboost "
                f"FROM {vocab} WHERE {_mt_pred(q)} "
                f"QUALIFY row_number() OVER "
                f"(ORDER BY tboost DESC, term ASC) <= {q.max_expansions})")
    return (f"mtexp{qid} AS (SELECT term, CAST(1.0 AS DOUBLE) AS tboost "
            f"FROM {vocab} WHERE {_mt_pred(q)})")


def multiterm_sql(queries: list[tuple[int, object]], k: int | None = 10,
                  rewrite: str = "constant_score",
                  tokenizer: str = "whitespace",
                  round_scores: bool = True) -> str:
    """MultiTermQuery oracle → (qid, doc_id, score).

    ``constant_score``: every doc containing any expanded term scores the
    query boost; top-k by doc-id asc (all ties).  ``scoring_boolean``:
    per-term BM25 (``weight = (qboost·tboost)·idf`` — the engine's
    ``plan_queries`` float64 association), per-doc sum left-folded in the
    engine's expansion-ord order (term asc; fuzzy: boost desc, term asc)
    via ``list_reduce`` — the same float64 association order as the
    engine's ``F.aggregate`` fold, so hashes match."""
    ctes, selects = [], []
    for qid, q in queries:
        qboost = float(getattr(q, "boost", 1.0))
        ctes.append(_mt_exp_cte(qid, q))
        if rewrite == "constant_score":
            qualify = (f"QUALIFY row_number() OVER "
                       f"(ORDER BY doc_id ASC) <= {k}" if k is not None
                       else "")
            selects.append(
                f"SELECT CAST({qid} AS BIGINT) AS qid, doc_id, "
                f"{qboost!r} AS score FROM "
                f"(SELECT DISTINCT p.doc_id FROM positions p "
                f"JOIN mtexp{qid} e ON p.term = e.term) {qualify}")
            continue
        if rewrite != "scoring_boolean":
            raise ValueError(f"unknown rewrite {rewrite!r}")
        weight = (f"(({qboost!r} * st.tboost) * "
                  f"ln(1.0 + (CAST(n_docs AS DOUBLE) - st.df + 0.5) / "
                  f"(st.df + 0.5)))")
        cache = _cache_sql(_quantized_dl("docl.dl"))
        score = (f"({weight} - {weight} / "
                 f"(1.0 + CAST(tf.freq AS DOUBLE) * {cache}))")
        ctes.append(
            f"mtst{qid} AS (SELECT e.term, e.tboost, "
            f"CAST(count(DISTINCT p.doc_id) AS BIGINT) AS df "
            f"FROM mtexp{qid} e JOIN positions p ON p.term = e.term "
            f"GROUP BY e.term, e.tboost)")
        ctes.append(
            f"mttf{qid} AS (SELECT p.term, p.doc_id, "
            f"CAST(count(*) AS BIGINT) AS freq FROM positions p "
            f"JOIN mtexp{qid} e ON p.term = e.term "
            f"GROUP BY p.term, p.doc_id)")
        ctes.append(
            f"mtsc{qid} AS (SELECT tf.doc_id, st.term, st.tboost, "
            f"{score} AS s FROM mttf{qid} tf "
            f"JOIN mtst{qid} st ON st.term = tf.term "
            f"JOIN docl ON docl.doc_id = tf.doc_id, cstats)")
        ctes.append(
            f"mtagg{qid} AS (SELECT doc_id, list_reduce("
            f"list(CAST(s AS DOUBLE) ORDER BY tboost DESC, term ASC), "
            f"(a, b) -> a + b) AS raw FROM mtsc{qid} GROUP BY doc_id)")
        score_out = "round(raw, 6)" if round_scores else "raw"
        qualify = (f"QUALIFY row_number() OVER "
                   f"(ORDER BY raw DESC, doc_id ASC) <= {k}"
                   if k is not None else "")
        selects.append(
            f"SELECT CAST({qid} AS BIGINT) AS qid, doc_id, "
            f"{score_out} AS score FROM mtagg{qid} {qualify}")
    return (f"WITH {_tok_cte(tokenizer)}, " + ", ".join(ctes)
            + " " + " UNION ALL ".join(selects))


def phrase_freqs_sql(queries: list[tuple[int, str]]) -> str:
    """(qid, doc_id, freq) without scoring."""
    selects = []
    for qid, text in queries:
        terms = tokenize_one(text)
        if not terms:
            continue
        selects.append(
            f"SELECT CAST({qid} AS BIGINT) AS qid, doc_id, freq "
            f"FROM ({_phrase_freq_select(terms)})")
    return f"WITH {TOK_CTE} " + " UNION ALL ".join(selects)


_M64 = "18446744073709551616"  # 2^64


def _u64_mul(a: str, b: str) -> str:
    return (f"CAST((CAST({a} AS UHUGEINT) * CAST({b} AS UHUGEINT)) "
            f"% {_M64}::UHUGEINT AS UBIGINT)")


def _u64_add(a: str, b: str) -> str:
    return (f"CAST((CAST({a} AS UHUGEINT) + CAST({b} AS UHUGEINT)) "
            f"% {_M64}::UHUGEINT AS UBIGINT)")


def _splitmix64_sql(x: str) -> str:
    """Vectorized splitmix64 finalizer in DuckDB SQL — bit-identical to
    ``corpus._splitmix64`` (UHUGEINT intermediate emulates uint64 wrap)."""
    z = _u64_add(x, "11400714819323198485")       # 0x9E3779B97F4A7C15
    z = f"xor({z}, ({z}) >> 30)"
    z = _u64_mul(z, "13787848793156543929")       # 0xBF58476D1CE4E5B9
    z = f"xor({z}, ({z}) >> 27)"
    z = _u64_mul(z, "10723151780598845931")       # 0x94D049BB133111EB
    return f"xor({z}, ({z}) >> 31)"


def corpus_sql(num_docs: int, seed: int = 42, min_tokens: int = 40,
               max_tokens: int = 260) -> str:
    """Oracle for the deterministic corpus generator: every metadata
    column and the per-doc token count recomputed from the pure
    splitmix64 formulas of ``corpus._gen_batch`` — the Spark side returns
    the same values derived from the MATERIALIZED frame (token count by
    re-splitting ``content``), so the comparison proves the generated
    data honors the formula at any parallelism."""
    from pim_lucene_spark.corpus import LANGS
    base = _splitmix64_sql(f"xor(CAST(i AS UBIGINT), {seed}::UBIGINT)")
    langs = "[" + ", ".join(f"'{lang}'" for lang in LANGS) + "]"
    return f"""
        WITH g AS (SELECT i, {base} AS base FROM range(0, {num_docs}) t(i))
        SELECT CAST(i AS BIGINT) AS doc_id,
               'org/repo' || CAST(i % 97 AS VARCHAR) AS repo,
               'src/m' || CAST(i % 211 AS VARCHAR) || '/f' ||
                 CAST(i AS VARCHAR) || '.' ||
                 {langs}[CAST(base % 6 AS BIGINT) + 1] AS path,
               lpad(printf('%x', CAST(base >> 24 AS BIGINT)), 10, '0')
                 AS commit,
               {langs}[CAST(base % 6 AS BIGINT) + 1] AS lang,
               CAST({min_tokens} + base % {max_tokens - min_tokens + 1}
                    AS BIGINT) AS n_tokens
        FROM g"""


TERM_STATS_SQL = f"""WITH {TOK_CTE}
SELECT term,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS doc_freq,
       CAST(count(*) AS BIGINT) AS total_tf
FROM positions GROUP BY term"""

COLLECTION_STATS_SQL = f"""WITH {TOK_CTE}
SELECT n_docs AS doc_count, sum_dl AS sum_ttf,
       round(CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE), 6) AS avgdl
FROM cstats"""

DOC_NORMS_SQL = f"""WITH {TOK_CTE}
SELECT doc_id, dl AS token_count,
       CAST({_norm_byte_sql('dl')} AS BIGINT) AS norm,
       CAST({_quantized_dl('dl')} AS BIGINT) AS quantized_len
FROM docl"""


def _slot_pred(slot: tuple, alias: str = "q") -> str:
    """term = 't' or term IN (...) for an alternatives slot."""
    if len(slot) == 1:
        return f"{alias}.term = '{_q(slot[0])}'"
    return (f"{alias}.term IN ("
            + ", ".join(f"'{_q(t)}'" for t in slot) + ")")


def _iv_chain_select(slots: list[tuple]) -> str:
    """Forward-backward minimal ORDERED intervals in SQL: every position
    of the last SLOT (union of its alternatives) is an interval end;
    each earlier slot takes its greatest position strictly below its
    successor (NULL when the chain breaks, and NULLs propagate down the
    chain)."""
    k = len(slots)
    last = _slot_pred(slots[-1], "positions")
    inner = (f"SELECT doc_id, pos AS p{k - 1} FROM positions "
             f"WHERE {last}")
    for i in range(k - 2, -1, -1):
        inner = (f"SELECT doc_id, p{k - 1}, "
                 f"(SELECT max(q.pos) FROM positions q "
                 f"WHERE q.doc_id = c.doc_id AND {_slot_pred(slots[i])} "
                 f"AND q.pos < c.p{i + 1}) AS p{i} FROM ({inner}) c")
    return (f"SELECT doc_id, p0 AS s, p{k - 1} AS e FROM ({inner}) "
            f"WHERE p0 IS NOT NULL")


def _iv_window_select(slots: list[tuple]) -> str:
    """Minimal UNORDERED windows in SQL: for each candidate end position
    (any slot's), the window start is the minimum over slots of that
    slot's latest position ≤ end; windows missing a slot drop."""
    all_terms = list(dict.fromkeys(t for s in slots for t in s))
    in_list = ", ".join(f"'{_q(t)}'" for t in all_terms)
    preds = []
    for i, s in enumerate(slots):
        preds.append(f"(SELECT max(q.pos) FROM positions q "
                     f"WHERE q.doc_id = x.doc_id AND {_slot_pred(s)} "
                     f"AND q.pos <= x.e) AS m{i}")
    notnull = " AND ".join(f"m{i} IS NOT NULL" for i in range(len(slots)))
    least = ("m0" if len(slots) == 1
             else "least(" + ", ".join(f"m{i}"
                                       for i in range(len(slots))) + ")")
    return (f"SELECT doc_id, {least} AS s, e FROM "
            f"(SELECT doc_id, e, {', '.join(preds)} FROM "
            f"(SELECT doc_id, pos AS e FROM positions "
            f"WHERE term IN ({in_list})) x) WHERE {notnull}")


def intervals_sql(queries: list, k: int | None = 10,
                  tokenizer: str = "whitespace") -> str:
    """IntervalQuery oracle → (qid, doc_id, score): minimal intervals
    (shared-start dedupe keeps the smallest end), maxgaps/maxwidth
    filters, IntervalScorer freq ``Σ 1/max(len − minExtent + 1, 1)`` and
    the saturation score ``boost·(1 − pivot/(pivot + freq))`` — all in
    float64 (engine ``precision='float64'`` parity).  ``queries`` are
    ``(qid, IntervalQuery)`` pairs."""
    selects = []
    for qid, q in queries:
        if q.sources is not None:
            slots = []
            for src in q.sources:
                alt = []
                for a in src:
                    ts = tokenize_one(a, tokenizer)
                    if len(ts) != 1:  # engine contract (_SpecBuilder)
                        raise ValueError(
                            f"interval source {a!r} must analyze to "
                            f"exactly one term (got {ts!r})")
                    alt.append(ts[0])
                slots.append(tuple(dict.fromkeys(alt)))
            if any(not s for s in slots):
                continue
        else:
            slots = [(t,) for t in tokenize_one(q.text, tokenizer)]
        if not slots:
            continue
        kk = len(slots)
        base = (_iv_chain_select(slots) if q.ordered
                else _iv_window_select(slots))
        conds = []
        if q.max_width is not None:
            conds.append(f"(e - s + 1) <= {int(q.max_width)}")
        if q.max_gaps is not None:
            conds.append(f"(e - s + 1 - {kk}) <= {int(q.max_gaps)}")
        flt = (" WHERE " + " AND ".join(conds)) if conds else ""
        pivot = float(q.pivot)
        w = float(q.boost)
        score = f"({w!r} * (1.0 - {pivot!r} / ({pivot!r} + freq)))"
        qualify = (f"QUALIFY row_number() OVER "
                   f"(ORDER BY {score} DESC, doc_id ASC) <= {k} "
                   if k is not None else "")
        selects.append(
            # ordered left fold (list ORDER BY s + list_reduce) — the
            # engine sums contributions in ascending interval order;
            # a bare SUM's order is engine-internal and a last-ulp
            # difference could flip the exact-score QUALIFY ranking
            f"SELECT CAST({qid} AS BIGINT) AS qid, doc_id, "
            f"round({score}, 6) AS score FROM ("
            f"SELECT doc_id, list_reduce("
            f"list(1.0 / greatest(e - s + 2 - {kk}, 1) ORDER BY s), "
            f"(a, b) -> a + b) AS freq FROM ("
            f"SELECT doc_id, s, min(e) AS e FROM ({base}) "
            f"GROUP BY doc_id, s){flt} GROUP BY doc_id) {qualify}")
    body = " UNION ALL ".join(selects)
    return f"WITH {_tok_cte(tokenizer)} {body}"
