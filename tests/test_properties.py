"""Property tests (SURVEY.md §5.5): engine expressions vs pure-Python
reference semantics on generated inputs."""

import re

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from proceso_de_etl_spark.functions.columns import clean_id
from proceso_de_etl_spark.functions.text import tokens

SET = settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _py_clean_id(s: str | None, prefix: str) -> int | None:
    """Pure-python reference of the reference's limpiar_id
    (main.py:38-41): strip one leading prefix, int or None."""
    if s is None:
        return None
    stripped = re.sub(f"^{re.escape(prefix)}", "", s)
    try:
        return int(stripped)
    except ValueError:
        return None


@given(st.lists(st.one_of(
    st.integers(0, 10**12).map(lambda n: f"C{n}"),
    st.integers(0, 10**12).map(str),
    st.text(alphabet="Cx0123456789", max_size=8),
), min_size=1, max_size=30))
@SET
def test_clean_id_matches_python_reference(spark, values):
    df = spark.createDataFrame([(v,) for v in values], "raw string")
    got = [r.c for r in df.select(clean_id(F.col("raw"), "C").alias("c")).collect()]
    want = [_py_clean_id(v, "C") for v in values]
    # Spark try_cast overflows to NULL beyond bigint — mirror that
    want = [w if (w is None or abs(w) <= 2**63 - 1) else None for w in want]
    assert got == want


def _py_tokens(text: str) -> list[str]:
    return [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]


@given(st.lists(st.text(
    alphabet=st.characters(whitelist_categories=("Ll", "Lu", "Nd", "Zs"), max_codepoint=127),
    max_size=120,
), min_size=1, max_size=20))
@SET
def test_tokenizer_matches_python_reference(spark, texts):
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = [list(r.t) for r in df.select(tokens(F.col("text")).alias("t")).collect()]
    want = [_py_tokens(t) for t in texts]
    assert got == want


@given(st.lists(st.text(
    # adversarial mix: ASCII alnum/space, accents, CJK, symbols, and
    # non-BMP (emoji / SMP) codepoints — the translate-based counter
    # must agree with the regexp spelling on EVERY codepoint class,
    # since the DuckDB oracle keeps the regexp definition
    alphabet=st.characters(min_codepoint=32, max_codepoint=0x1F64F),
    max_size=80,
), min_size=1, max_size=20))
@SET
def test_nonalnum_count_matches_regexp_spelling(spark, texts):
    from proceso_de_etl_spark.functions.text import nonalnum_count

    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = [
        r.n
        for r in df.select(nonalnum_count(F.col("text")).alias("n")).collect()
    ]
    want = [
        r.n
        for r in df.select(
            F.regexp_count(F.col("text"), F.lit(r"[^a-zA-Z0-9 ]")).alias("n")
        ).collect()
    ]
    py = [len(re.findall(r"[^a-zA-Z0-9 ]", t)) for t in texts]
    assert got == want == py


def _py_shingles(text: str, n: int = 3) -> list[str]:
    toks = _py_tokens(text)
    return [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]


@given(st.lists(st.text(alphabet="ab ", max_size=60), min_size=1, max_size=12))
@SET
def test_shingles_match_python_reference(spark, texts):
    from proceso_de_etl_spark.functions.text import shingles

    df = spark.createDataFrame([(t,) for t in texts], "text string")
    staged = df.select(tokens(F.col("text")).alias("toks"))
    got = [list(r.s) for r in staged.select(shingles(F.col("toks")).alias("s")).collect()]
    want = [_py_shingles(t) for t in texts]
    assert got == want


def _py_sessionize(events, gap_us):
    out = {}
    by_user = {}
    for uid, eid, us in sorted(events, key=lambda e: (e[0], e[2], e[1])):
        prev, sid = by_user.get(uid, (None, 0))
        sid = sid + 1 if prev is None or us - prev > gap_us else sid
        by_user[uid] = (us, sid)
        out[eid] = sid
    return out


@given(st.lists(
    st.tuples(st.integers(1, 3), st.integers(0, 10**6),
              st.integers(0, 4 * 10**9)),
    min_size=1, max_size=40, unique_by=lambda e: e[1],
))
@SET
def test_sessionize_matches_python_reference(spark, events):
    from pyspark.sql import functions as SF

    from proceso_de_etl_spark.operators.events import sessionize

    gap_us = 30 * 60 * 1_000_000
    base = 1_700_000_000_000_000
    df = spark.createDataFrame(
        [(u, e, base + us) for u, e, us in events], "user_id long, event_id long, us long"
    ).select("user_id", "event_id", SF.timestamp_micros("us").alias("ts"))
    got = {r.event_id: r.session_id for r in sessionize(df).collect()}
    want = _py_sessionize([(u, e, base + us) for u, e, us in events], gap_us)
    assert got == want


@given(
    st.lists(
        st.tuples(st.integers(0, 50), st.integers(-1000, 1000)),
        min_size=0,
        max_size=40,
        unique_by=lambda t: t[0],
    ),
    st.sampled_from([1, 3, 10]),
)
@SET
def test_ranked_topk_matches_global_window(spark, rows, k):
    """ranked_topk (TakeOrderedAndProject + id-ranked survivors) must
    equal the single-partition row_number window it replaces, for any
    input and k — including k > |input| and the empty frame."""
    from proceso_de_etl_spark.operators.windows import ranked_topk

    df = spark.createDataFrame(rows, "id long, v long") if rows else (
        spark.createDataFrame([], "id long, v long")
    )
    order = [F.desc("v"), F.asc("id")]
    got = {
        (r.rank, r.id, r.v)
        for r in ranked_topk(df, order, k).select("rank", "id", "v").collect()
    }
    want = {
        (i + 1, id_, v)
        for i, (id_, v) in enumerate(
            sorted(rows, key=lambda t: (-t[1], t[0]))[:k]
        )
    }
    assert got == want, (rows, k)


def _py_bpe_merge(sym: list[str], left: str, right: str) -> list[str]:
    """Pure-python reference of the greedy left-to-right BPE merge."""
    out: list[str] = []
    for x in sym:
        if out and out[-1] == left and x == right:
            out[-1] = left + right
        else:
            out.append(x)
    return out


@given(
    st.lists(st.sampled_from(["a", "b", "ab", "c"]), min_size=0, max_size=12),
    st.sampled_from([("a", "b"), ("a", "a"), ("b", "a"), ("ab", "c")]),
)
@SET
def test_bpe_merge_fold_matches_python_reference(spark, sym, pair):
    from proceso_de_etl_spark.operators.text_analysis import _merge_pair

    left, right = pair
    df = spark.createDataFrame([(sym,)], "sym array<string>")
    got = df.select(_merge_pair(F.col("sym"), left, right).alias("m")).first().m
    assert got == _py_bpe_merge(sym, left, right), (sym, pair)


@given(st.lists(
    st.tuples(st.integers(0, 2), st.integers(0, 60), st.integers(0, 25)),
    min_size=1, max_size=40,
))
@SET
def test_interval_islands_match_python_sweep(spark, ivals):
    """A49's merge core vs a pure-Python sweep-line on random integer
    intervals (overlapping, nested, touching, duplicated): the merged
    island spans and their interval counts must agree exactly."""
    from proceso_de_etl_spark.operators.relational import merge_interval_islands

    rows = [(k, s, s + ln, i) for i, (k, s, ln) in enumerate(ivals)]
    df = spark.createDataFrame(rows, "k int, s int, e int, tb int")
    got = {
        (r.k, r.island_start, r.island_end, r.n_intervals)
        for r in merge_interval_islands(df, key="k", start="s", end="e", tiebreak=["tb"]).collect()
    }

    want = set()
    by_key: dict[int, list[tuple[int, int]]] = {}
    for k, s, ln in ivals:
        by_key.setdefault(k, []).append((s, s + ln))
    for k, spans in by_key.items():
        spans.sort()
        cur_s, cur_e, n = spans[0][0], spans[0][1], 1
        for s, e in spans[1:]:
            if s > cur_e:  # touching (s == cur_e) merges
                want.add((k, cur_s, cur_e, n))
                cur_s, cur_e, n = s, e, 1
            else:
                cur_e = max(cur_e, e)
                n += 1
        want.add((k, cur_s, cur_e, n))
    assert got == want


@given(
    st.lists(
        st.tuples(st.integers(0, 200), st.integers(-1000, 1000)),
        min_size=1,
        max_size=60,
        unique_by=lambda t: t[0],
    )
)
@SET
def test_global_rank_frame_is_dense_total_order(spark, rows):
    """global_rank_frame (range partition + per-partition rank +
    broadcast offsets — the A41/A60 core) must produce EXACTLY the
    ranks of the one-task sorted enumeration for any input: a dense
    1..n permutation in tie-broken sort order, regardless of how the
    sampled range boundaries fall."""
    from proceso_de_etl_spark.operators.relational import global_rank_frame

    df = spark.createDataFrame(rows, "id long, v long")
    key = [F.asc("v"), F.asc("id")]
    ranked, total = global_rank_frame(df, key, partitions=4)
    got = {(r.rank, r.id, r.v) for r in ranked.select("rank", "id", "v").collect()}
    spark.catalog.clearCache()  # the core pins its ranged partitioning
    want = {
        (i + 1, id_, v)
        for i, (id_, v) in enumerate(sorted(rows, key=lambda t: (t[1], t[0])))
    }
    assert total == len(rows)
    assert got == want


@given(
    st.lists(
        st.tuples(st.integers(0, 200), st.integers(0, 100000)),
        min_size=1,
        max_size=60,
        unique_by=lambda t: t[0],
    )
)
@SET
def test_distributed_prefix_sum_matches_enumeration(spark, rows):
    """The A72 Pareto core — range partition on (value DESC, id) +
    per-partition decimal running sum + broadcast value offsets —
    must reproduce the one-task sorted cumulative sum exactly for
    any input, regardless of where the sampled range bounds fall.
    Exercised through pareto-style plumbing on a literal frame with
    values as DECIMAL(18,4) money."""
    from decimal import Decimal

    from pyspark.sql import Window as W

    df = spark.createDataFrame(rows, "id long, cents long").select(
        "id", (F.col("cents").cast("decimal(18,4)") / 100).alias("rev")
    )
    ranged = (
        df.repartitionByRange(4, F.desc("rev"), F.asc("id"))
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    parts = sorted(
        (r["_pid"], r["s"])
        for r in ranged.groupBy("_pid").agg(F.sum("rev").alias("s")).collect()
    )
    offsets, acc = [], Decimal(0)
    for pid, s in parts:
        offsets.append((pid, acc))
        acc += s
    offs = spark.createDataFrame(offsets, "_pid int, _voff decimal(38,4)")
    w = (
        W.partitionBy("_pid")
        .orderBy(F.desc("rev"), F.asc("id"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    got = {
        (r.id, str(r.cum))
        for r in ranged.join(F.broadcast(offs), "_pid")
        .withColumn("cum", (F.sum("rev").over(w) + F.col("_voff")).cast("decimal(38,4)"))
        .select("id", "cum")
        .collect()
    }
    spark.catalog.clearCache()
    want, run = set(), Decimal(0)
    for id_, cents in sorted(rows, key=lambda t: (-t[1], t[0])):
        run += (Decimal(cents) / 100).quantize(Decimal("0.0001"))
        want.add((id_, f"{run:.4f}"))
    assert got == want


@settings(max_examples=25, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.text(
            alphabet=st.characters(min_codepoint=32, max_codepoint=0x2FA1),
            min_size=0,
            max_size=40,
        ),
        min_size=1,
        max_size=8,
    )
)
def test_md5_base_hash_is_engine_portable(spark, values):
    """The portable universal-hash base every r6 driver oracle rides
    (minhash / simhash / ab_aa bucketing): Spark's
    conv(substr(md5(x),1,15),16,10) must equal DuckDB's
    CAST(concat('0x', substr(md5(x),1,15)) AS UBIGINT) for arbitrary
    unicode input — if either engine's md5/hex/parse semantics ever
    drift, this pins the failure to the primitive instead of a
    mysterious oracle mismatch."""
    import duckdb

    df = spark.createDataFrame([(v,) for v in values], "s string")
    got = {
        r.s: r.h
        for r in df.select(
            "s",
            F.conv(F.substring(F.md5("s"), 1, 15), 16, 10).cast("bigint").alias("h"),
        ).collect()
    }
    con = duckdb.connect()
    for v in values:
        want = con.execute(
            "SELECT CAST(CAST(concat('0x', substr(md5(?), 1, 15)) AS UBIGINT) AS BIGINT)",
            [v],
        ).fetchone()[0]
        assert got[v] == want, v
    con.close()


def test_float_margin_guards_for_embedding_oracles():
    """r6 advisor: the LSH-bucket and semdedup-pairs oracles assume
    float SUMMATION ORDER can never flip a discrete decision —
    a hyperplane dot's SIGN, a cosine-vs-threshold comparison, a
    nearest-centroid argmin. That holds only while every decision
    margin dwarfs the worst-case reassociation error (~n·eps·Σ|x_i|
    ≈ 1e-13 for 64 doubles here). This test MEASURES the margins on
    the gate data so a testdata/plane/centroid change that erodes
    them fails HERE, not as a silent cross-engine oracle mismatch.
    Margins are computed in numpy float64 — itself within the same
    error bound of either engine's value, which the asserted floors
    (>= 1e5 x the bound) absorb."""
    import numpy as np
    import pyarrow.parquet as pq

    from proceso_de_etl_spark.operators.dedup import (
        COSINE_THRESHOLD,
        SEMDEDUP_PINNED_CENTROIDS,
    )
    from proceso_de_etl_spark.operators.similarity import (
        N_TABLES,
        _plane_weights,
    )
    from tests.conftest import SF_CORRECT

    t = pq.read_table(f"{SF_CORRECT}/embeddings.parquet")
    x = np.array(t.column("embedding").to_pylist(), dtype=np.float64)  # (n, 64)

    # 1. hyperplane dot signs (lsh_bucket_ctes / with_lsh_tables): as
    #    of r8 the dot is an EXACT scaled-integer sum on both engines
    #    (±1 weights, elements scaled by DOT_SCALE=2^48), so the old
    #    float-sum-order margin assumption is RETIRED. What must hold
    #    instead: every element×2^48 is exactly integral (true for any
    #    float32 with |x| ≥ ~2^-24; a corpus with subnormal-ish tiny
    #    magnitudes would round — identically on both engines, but
    #    flag it here so the semantics change is a conscious one) and
    #    the exact integer dot is never zero (a zero dot is a valid
    #    deterministic tie, but the bit then encodes "not positive" —
    #    worth noticing if testdata ever changes).
    from proceso_de_etl_spark.operators.dedup import DOT_SCALE

    scaled = x * float(DOT_SCALE)
    assert np.all(scaled == np.round(scaled)), "embedding×2^48 not integral"
    planes = np.array(
        [w for tbl in range(N_TABLES) for w in _plane_weights(tbl)]
    ).T  # (64, tables*planes)
    int_dots = scaled.astype(np.int64) @ planes.astype(np.int64)
    assert np.abs(int_dots).min() > 0, "exact hyperplane dot of zero"
    # magnitude headroom: exact sums must sit far inside int64
    assert np.abs(int_dots).max() < 2**56

    # 2. cosine-vs-threshold margins (all pairs — superset of every
    #    candidate set any bucketing emits)
    norms = np.linalg.norm(x, axis=1)
    cos = (x @ x.T) / np.outer(norms, norms)
    iu = np.triu_indices(len(x), k=1)
    min_tau_margin = np.abs(cos[iu] - COSINE_THRESHOLD).min()
    assert min_tau_margin > 1e-7, f"cosine threshold margin {min_tau_margin:.2e}"

    # 3. nearest-pinned-centroid argmin gaps (semdedup_pairs)
    c = np.array(SEMDEDUP_PINNED_CENTROIDS)  # (8, 64)
    d2 = ((x[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)  # (n, 8)
    d2.sort(axis=1)
    rel_gap = ((d2[:, 1] - d2[:, 0]) / d2[:, 0]).min()
    assert rel_gap > 1e-5, f"centroid assignment relative gap {rel_gap:.2e}"

    # 4. IVF pinned quantizer (ann_ivf_pinned_topk): corpus argmin gap
    #    AND the probe-set boundary — the gap between every query's
    #    N_PROBE-th and (N_PROBE+1)-th nearest cell decides WHICH
    #    lists get scanned, so it too must dwarf reassociation error
    from proceso_de_etl_spark.operators.similarity import (
        IVF_PINNED_CENTROIDS,
        N_PROBE,
        N_QUERIES,
    )

    ci = np.array(IVF_PINNED_CENTROIDS)  # (16, 64)
    di = ((x[:, None, :] - ci[None, :, :]) ** 2).sum(axis=2)
    di.sort(axis=1)
    ivf_assign_gap = ((di[:, 1] - di[:, 0]) / di[:, 0]).min()
    assert ivf_assign_gap > 1e-5, f"IVF assignment gap {ivf_assign_gap:.2e}"
    vec_ids = np.array(t.column("vec_id").to_pylist())
    dq = di[vec_ids < N_QUERIES]
    probe_gap = ((dq[:, N_PROBE] - dq[:, N_PROBE - 1]) / dq[:, N_PROBE - 1]).min()
    assert probe_gap > 1e-5, f"IVF probe boundary gap {probe_gap:.2e}"


def test_float_margin_guards_for_pq_pinned():
    """ann_pq_pinned_topk's oracle replays encode → ADC rank → exact
    re-rank; its discrete decisions are (1) the per-(vector, subspace)
    nearest-code argmin, (2) the PQ_RERANK candidate boundary per
    query, (3) the TOP_K cosine boundary. Measure all three on the
    gate data (same discipline as the IVF/semdedup guards). Exact
    ADC ties (identical code tuples) are SAFE — both engines compute
    bit-equal sums and break by neighbor_id — so the boundary check
    accepts either a real gap or an identical-code tie."""
    import numpy as np
    import pyarrow.parquet as pq

    from proceso_de_etl_spark.operators.similarity import (
        EMB_DIM,
        N_QUERIES,
        PQ_M,
        PQ_PINNED_CODEBOOKS,
        PQ_RERANK,
        TOP_K,
    )
    from tests.conftest import SF_CORRECT

    t = pq.read_table(f"{SF_CORRECT}/embeddings.parquet")
    x = np.array(t.column("embedding").to_pylist(), dtype=np.float64)
    vec_ids = np.array(t.column("vec_id").to_pylist())
    order = np.argsort(vec_ids)
    x, vec_ids = x[order], vec_ids[order]
    xn = x / np.linalg.norm(x, axis=1, keepdims=True)
    sub = EMB_DIM // PQ_M
    n = len(x)

    # (n, M, K) distance tables; codes and argmin gaps
    dsub = np.stack(
        [
            ((xn[:, None, m * sub : (m + 1) * sub] - np.array(PQ_PINNED_CODEBOOKS[m])[None]) ** 2).sum(2)
            for m in range(PQ_M)
        ],
        axis=1,
    )
    codes = dsub.argmin(axis=2)  # (n, M)
    ds = np.sort(dsub, axis=2)
    rel_gap = ((ds[:, :, 1] - ds[:, :, 0]) / ds[:, :, 0]).min()
    assert rel_gap > 1e-5, f"PQ code argmin relative gap {rel_gap:.2e}"

    # ADC candidate boundary per query (rank PQ_RERANK vs +1)
    qmask = vec_ids < N_QUERIES
    lut = dsub[qmask]  # (q, M, K)
    adc = np.stack(
        [sum(lut[qi, m, codes[:, m]] for m in range(PQ_M)) for qi in range(qmask.sum())]
    )  # (q, n)
    qids = vec_ids[qmask]
    for qi, qid in enumerate(qids):
        others = vec_ids != qid
        a = adc[qi][others]
        cand_codes = codes[others]
        srt = np.argsort(a, kind="stable")
        lo, hi = a[srt[PQ_RERANK - 1]], a[srt[PQ_RERANK]]
        if hi == lo:
            assert (cand_codes[srt[PQ_RERANK - 1]] == cand_codes[srt[PQ_RERANK]]).all(), qid
        else:
            assert hi - lo > 1e-12, (qid, hi - lo)

    # TOP_K cosine boundary inside each query's candidate set
    norms = np.linalg.norm(x, axis=1)
    for qi, qid in enumerate(qids):
        others = np.where(vec_ids != qid)[0]
        srt = np.argsort(adc[qi][others], kind="stable")
        # replicate the (adc, neighbor_id) tie-break: stable sort on
        # adc of vec_id-ordered rows IS that order
        cand = others[srt[:PQ_RERANK]]
        q_idx = np.where(vec_ids == qid)[0][0]
        cos = (x[cand] @ x[q_idx]) / (norms[cand] * norms[q_idx])
        cs = np.sort(cos)[::-1]
        gap = cs[TOP_K - 1] - cs[TOP_K]
        if gap == 0.0:
            continue  # exact tie: neighbor_id order, engine-identical
        assert gap > 1e-9, (qid, gap)


def test_float_margin_guards_for_ivfpq_pinned():
    """ann_ivfpq_pinned_topk composes the two frozen geometries; its
    discrete decisions are (1) the corpus cell argmin and the
    IVFPQ_N_PROBE probe-set boundary (pinned quantizer — the deeper
    probe boundary is NOT covered by the IVF guard, which measures
    N_PROBE=4), (2) the ADC candidate boundary at IVFPQ_RERANK within
    the PROBED candidate set (deeper and differently-shaped than the
    PQ guard's full-corpus PQ_RERANK=80 boundary), (3) the TOP_K
    cosine boundary inside the shortlist. Measure all three; exact
    ADC ties (identical code tuples) are safe as in the PQ guard."""
    import numpy as np
    import pyarrow.parquet as pq

    from proceso_de_etl_spark.operators.similarity import (
        EMB_DIM,
        IVF_PINNED_CENTROIDS,
        IVFPQ_N_PROBE,
        IVFPQ_RERANK,
        N_QUERIES,
        PQ_M,
        PQ_PINNED_CODEBOOKS,
        TOP_K,
    )
    from tests.conftest import SF_CORRECT

    t = pq.read_table(f"{SF_CORRECT}/embeddings.parquet")
    x = np.array(t.column("embedding").to_pylist(), dtype=np.float64)
    vec_ids = np.array(t.column("vec_id").to_pylist())
    order = np.argsort(vec_ids)
    x, vec_ids = x[order], vec_ids[order]
    norms = np.linalg.norm(x, axis=1)
    xn = x / norms[:, None]
    sub = EMB_DIM // PQ_M

    # 1. coarse cells: corpus argmin gap + probe boundary at depth 6
    ci = np.array(IVF_PINNED_CENTROIDS)
    di = ((x[:, None, :] - ci[None, :, :]) ** 2).sum(axis=2)
    ds = np.sort(di, axis=1)
    assert ((ds[:, 1] - ds[:, 0]) / ds[:, 0]).min() > 1e-5
    qmask = vec_ids < N_QUERIES
    dq = ds[qmask]
    probe_gap = (
        (dq[:, IVFPQ_N_PROBE] - dq[:, IVFPQ_N_PROBE - 1]) / dq[:, IVFPQ_N_PROBE - 1]
    ).min()
    assert probe_gap > 1e-5, f"IVFPQ probe boundary gap {probe_gap:.2e}"

    # 2. ADC boundary at IVFPQ_RERANK within each query's PROBED set
    dsub = np.stack(
        [
            ((xn[:, None, m * sub : (m + 1) * sub] - np.array(PQ_PINNED_CODEBOOKS[m])[None]) ** 2).sum(2)
            for m in range(PQ_M)
        ],
        axis=1,
    )
    codes = dsub.argmin(axis=2)
    cells = np.lexsort((np.arange(ci.shape[0])[None, :].repeat(len(x), 0), di), axis=1)[:, 0]
    # (equivalent to argmin with index tie-break; gaps asserted above)
    probe_sets = np.argsort(di[qmask], axis=1, kind="stable")[:, :IVFPQ_N_PROBE]
    qids = vec_ids[qmask]
    for qi, qid in enumerate(qids):
        in_probe = np.isin(cells, probe_sets[qi]) & (vec_ids != qid)
        cand_idx = np.where(in_probe)[0]
        a = sum(dsub[qmask][qi, m, codes[cand_idx, m]] for m in range(PQ_M))
        assert len(cand_idx) > IVFPQ_RERANK, (qid, len(cand_idx))
        srt = np.argsort(a, kind="stable")
        lo, hi = a[srt[IVFPQ_RERANK - 1]], a[srt[IVFPQ_RERANK]]
        if hi == lo:
            assert (
                codes[cand_idx[srt[IVFPQ_RERANK - 1]]]
                == codes[cand_idx[srt[IVFPQ_RERANK]]]
            ).all(), qid
        else:
            assert hi - lo > 1e-12, (qid, hi - lo)

        # 3. TOP_K cosine boundary inside the shortlist
        short = cand_idx[srt[:IVFPQ_RERANK]]
        q_idx = np.where(vec_ids == qid)[0][0]
        cos = (x[short] @ x[q_idx]) / (norms[short] * norms[q_idx])
        cs = np.sort(cos)[::-1]
        gap = cs[TOP_K - 1] - cs[TOP_K]
        if gap != 0.0:  # exact tie → neighbor_id order, engine-identical
            assert gap > 1e-9, (qid, gap)


def test_float_margin_guards_for_logreg_pinned():
    """ml_logreg_pinned_score's discrete decisions are the pred_en
    sign (z > 0) and the 6dp round of the score; the one
    libm-dependent input is ln(1 + n_chars) (cross-engine drift
    ≤ 1 ulp ≈ 1e-15 relative). Replay the scorer in pure Python on
    both gate SFs and assert every margin ≥ 1e5× that drift."""
    import math
    import re

    import pyarrow.parquet as pq

    from proceso_de_etl_spark.functions.text import STOPWORDS, TOKEN_SPLIT
    from proceso_de_etl_spark.operators.ml import LOGREG_PINNED
    from tests.conftest import SF_CORRECT, SF_SMOKE

    w, mu, sd = LOGREG_PINNED["w"], LOGREG_PINNED["mean"], LOGREG_PINNED["std"]
    en = set(STOPWORDS["en"])
    other = {t for lang, ws in STOPWORDS.items() if lang != "en" for t in ws}
    for sf in (SF_SMOKE, SF_CORRECT):
        t = pq.read_table(f"{sf}/documents.parquet")
        for text, n_chars in zip(
            t.column("text").to_pylist(), t.column("n_chars").to_pylist()
        ):
            toks = [x for x in re.split(TOKEN_SPLIT, text.lower()) if x]
            ntok = len(toks) + 1.0
            x1 = math.log(1.0 + n_chars)
            x2 = sum(1 for x in toks if x in en) / ntok
            x3 = sum(1 for x in toks if x in other) / ntok
            z = (
                w[0]
                + w[1] * ((x1 - mu[0]) / sd[0])
                + w[2] * ((x2 - mu[1]) / sd[1])
                + w[3] * ((x3 - mu[2]) / sd[2])
            )
            assert abs(z) > 1e-10, (sf, n_chars, z)
            frac = abs((z * 1e6) % 1 - 0.5)
            assert frac > 1e-8, (sf, z)


def test_lsh_assignment_coassigns_duplicates():
    """assign_clusters_lsh's approximation contract (SemDeDup's scale
    path rides on it): identical vectors share hyperplane signatures,
    hence candidate sets, hence the argmin — so duplicates are ALWAYS
    co-assigned regardless of which (possibly non-optimal) cell wins.
    Planted: every sf0.01 embedding duplicated under a shifted id;
    each (original, twin) pair must land in the same cluster."""
    from pyspark.sql import functions as F

    from proceso_de_etl_spark.operators.dedup import with_norm
    from proceso_de_etl_spark.operators.ml import (
        assign_clusters_lsh,
        kmeans_fit_two_level,
    )
    from proceso_de_etl_spark.session import get_spark
    from proceso_de_etl_spark.sources.catalog import load_table
    from tests.conftest import SF_CORRECT

    spark = get_spark(app_name="tests", cpus="8")
    emb = with_norm(load_table(spark, SF_CORRECT, "embeddings")).select(
        "vec_id", "embedding"
    )
    twins = emb.withColumn("vec_id", F.col("vec_id") + F.lit(10_000_000))
    planted = emb.unionByName(twins)
    cents = kmeans_fit_two_level(emb, 64)
    a = assign_clusters_lsh(planted, cents).select("vec_id", "cluster")
    orig = a.filter(F.col("vec_id") < 10_000_000).select(
        F.col("vec_id").alias("k"), F.col("cluster").alias("c1")
    )
    twin = a.filter(F.col("vec_id") >= 10_000_000).select(
        (F.col("vec_id") - 10_000_000).alias("k"), F.col("cluster").alias("c2")
    )
    j = orig.join(twin, "k")
    n = j.count()
    mismatched = j.filter(F.col("c1") != F.col("c2")).count()
    assert n == emb.count()
    assert mismatched == 0, f"{mismatched}/{n} duplicate pairs split across cells"


def test_lsh_assignment_is_deterministic_and_subsig_matches_dups():
    """r10, after the vectorized rewrite: (a) assignment is
    deterministic — two invocations over the same data agree row for
    row (the einsum-no-BLAS reduction is batch-boundary-independent,
    so repartitioning cannot flip an argmin); (b) with_subsig emits
    identical sub-split bits for bit-identical vectors (the invariant
    the oversized-cell pair-join cap rides on) and bits in
    [0, 2^SUBSIG_BITS)."""
    from pyspark.sql import functions as F

    from proceso_de_etl_spark.operators.dedup import with_norm
    from proceso_de_etl_spark.operators.ml import (
        SUBSIG_BITS,
        assign_clusters_lsh,
        kmeans_fit_two_level,
    )
    from proceso_de_etl_spark.session import get_spark
    from proceso_de_etl_spark.sources.catalog import load_table
    from tests.conftest import SF_CORRECT

    spark = get_spark(app_name="tests", cpus="8")
    emb = with_norm(load_table(spark, SF_CORRECT, "embeddings")).select(
        "vec_id", "embedding"
    )
    cents = kmeans_fit_two_level(emb, 64)
    a1 = {
        r.vec_id: (r.cluster, r.subsig)
        for r in assign_clusters_lsh(emb, cents, with_subsig=True).collect()
    }
    a2 = {
        r.vec_id: (r.cluster, r.subsig)
        for r in assign_clusters_lsh(
            emb.repartition(7), cents, with_subsig=True
        ).collect()
    }
    assert a1 == a2, "assignment depends on partitioning"
    assert all(0 <= s < (1 << SUBSIG_BITS) for _, s in a1.values())
    twins = emb.withColumn("vec_id", F.col("vec_id") + F.lit(10_000_000))
    at = {
        r.vec_id - 10_000_000: (r.cluster, r.subsig)
        for r in assign_clusters_lsh(twins, cents, with_subsig=True).collect()
    }
    assert at == a1, "bit-identical vectors must share cluster AND subsig"


def test_semdedup_scale_regime_caps_oversized_cells(tmp_path, monkeypatch):
    """Integration of the r10 oversized-cell cap: plant a corpus that
    FORCES the scale regime (n > SEMDEDUP_K·TARGET_CELL ⇒ k ∝ n, the
    two-level fit + LSH assignment + sub-split path) with a dense
    diverse blob and planted exact-duplicate pairs INSIDE it, and
    LOWER the cap under the blob's realized cell sizes so the
    sub-split actually engages (reviewer catch: at the default cap
    the k-means fit keeps every cell under it and the old assertion
    passed vacuously — a guard below now proves nonzero bits fired).
    Invariants under an ENGAGED cap: row count preserved, exactly
    one keeper per component, and every planted exact-dup pair lands
    in one component — sub-split bits are a function of the vector,
    so the exact-dup guarantee survives the cap engaging."""
    import math

    import numpy as np

    from proceso_de_etl_spark.operators import dedup as dedup_mod
    from proceso_de_etl_spark.operators.dedup import (
        dedup_semantic_semdedup,
        semdedup_k,
    )
    from proceso_de_etl_spark.session import get_spark

    # lower the cap under the plant's realized cell sizes (measured
    # max ~399 at the default fit geometry) so bits_arr is nonzero
    # and the engaged-cap path actually runs
    cap = 128
    monkeypatch.setattr(dedup_mod, "SEMDEDUP_CELL_CAP", cap)

    spark = get_spark(app_name="tests", cpus="8")
    dim = 16
    rng_rows = []
    n_blob, n_bg = 1400, 1700
    # blob: normalize(e1 + 1.5·u), u deterministic pseudo-random unit
    # — mutual cosine ≈ (1 + 2.25·cos(u_i,u_j))/3.25 ≈ 0.31 ± noise,
    # mostly below τ, so the blob shares cells without pair-exploding
    def unit(seed: int) -> "np.ndarray":
        v = np.array(
            [math.sin(0.7 * seed + 1.3 * i) + math.cos(1.9 * seed * (i + 1)) for i in range(dim)]
        )
        return v / np.linalg.norm(v)

    e1 = np.zeros(dim)
    e1[0] = 1.0
    vid = 0
    for j in range(n_blob):
        v = e1 + 1.5 * unit(j)
        rng_rows.append((vid, [float(x) for x in v], 0))
        vid += 1
    for j in range(n_bg):  # spread background
        rng_rows.append((vid, [float(x) for x in 3.0 * unit(10_000 + j)], 1))
        vid += 1
    dup_pairs = []
    for j in range(20):  # exact dups of blob members
        src = rng_rows[j * 7][1]
        dup_pairs.append((j * 7, vid))
        rng_rows.append((vid, list(src), 0))
        vid += 1
    n = len(rng_rows)
    assert semdedup_k(n) > 8, "plant must engage the scale regime"
    df = spark.createDataFrame(
        rng_rows, "vec_id bigint, embedding array<float>, label int"
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    out = dedup_semantic_semdedup(spark, str(tmp_path)).collect()
    assert len(out) == n
    # the cap must actually have ENGAGED: at least one realized cell
    # above the patched cap, i.e. nonzero sub-split bits fired
    # (guards the test against a fit-geometry change that re-balances
    # every cell under the cap and makes the dup assertion vacuous)
    from collections import Counter

    cell_sizes = Counter(r.cluster for r in out)
    assert max(cell_sizes.values()) > cap, (
        f"plant no longer oversizes a cell: max {max(cell_sizes.values())} <= cap {cap}"
    )
    comp = {r.vec_id: r.component for r in out}
    keeps = sum(1 for r in out if r.keep)
    assert keeps == len({r.component for r in out}), "one keeper per component"
    for a, b in dup_pairs:
        assert comp[a] == comp[b], f"exact dup pair ({a},{b}) split by the cell cap"


def test_semdedup_engaged_cap_near_dup_recall_floor(tmp_path, monkeypatch):
    """r11 (advisor item): the oversized-cell cap's NEAR-dup recall is
    floor-pinned, not just documented. A near-dup pair (cosine ≥ τ but
    not bit-identical) inside a capped cell can additionally be lost to
    the sub-split with probability ~bits·θ/π on top of the LSH
    co-assignment loss; the 98.6%/88.6% floors in
    test_lsh_assignment_coassigns_duplicates cover assignment only.
    Here the full pipeline runs with the cap FORCED to engage (cap 128
    under a realized max cell ~414) and ε-perturbed pairs planted
    inside the oversized blob; survival through cluster + subsig +
    pair join + components is measured end-to-end. Measured on this
    deterministic plant: 59/60 at ε = 0.01·‖x‖ and 51/60 at
    ε = 0.1·‖x‖ — floors pinned at 56/60 and 45/60 so a future
    SUBSIG_BITS / cap / fit-geometry change cannot silently erode the
    scale path's near-dup recall."""
    import math

    import numpy as np

    from proceso_de_etl_spark.operators import dedup as dedup_mod
    from proceso_de_etl_spark.operators.dedup import (
        dedup_semantic_semdedup,
        semdedup_k,
    )
    from proceso_de_etl_spark.session import get_spark

    cap = 128
    monkeypatch.setattr(dedup_mod, "SEMDEDUP_CELL_CAP", cap)
    spark = get_spark(app_name="tests", cpus="8")
    dim = 16

    def unit(seed: int) -> "np.ndarray":
        v = np.array(
            [math.sin(0.7 * seed + 1.3 * i) + math.cos(1.9 * seed * (i + 1)) for i in range(dim)]
        )
        return v / np.linalg.norm(v)

    e1 = np.zeros(dim)
    e1[0] = 1.0
    rows, vid = [], 0
    blob_vecs = []
    for j in range(1400):  # the oversized blob (same plant as above)
        v = e1 + 1.5 * unit(j)
        blob_vecs.append(v)
        rows.append((vid, [float(x) for x in v], 0))
        vid += 1
    for j in range(1700):  # spread background
        rows.append((vid, [float(x) for x in 3.0 * unit(10_000 + j)], 1))
        vid += 1
    pair_sets = {}
    for eps in (0.01, 0.1):
        pairs = []
        for j in range(60):  # ε-perturbed near-dups of blob members
            src = blob_vecs[j * 5]
            pert = src + eps * np.linalg.norm(src) * unit(777_000 + j)
            pairs.append((j * 5, vid))
            rows.append((vid, [float(x) for x in pert], 0))
            vid += 1
        pair_sets[eps] = pairs
    n = len(rows)
    assert semdedup_k(n) > 8, "plant must engage the scale regime"
    df = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    out = dedup_semantic_semdedup(spark, str(tmp_path)).collect()
    from collections import Counter

    cell_sizes = Counter(r.cluster for r in out)
    assert max(cell_sizes.values()) > cap, "cap must actually engage"
    comp = {r.vec_id: r.component for r in out}
    floors = {0.01: 56, 0.1: 45}
    for eps, pairs in pair_sets.items():
        surv = sum(1 for a, b in pairs if comp[a] == comp[b])
        assert surv >= floors[eps], (
            f"near-dup recall eroded at eps={eps}: {surv}/60 < {floors[eps]}/60"
        )


def test_semdedup_subsplit_caps_only_oversized_cells():
    """Unit pin of the _subsplit_pair_cells arithmetic on a
    hand-built assignment: a cluster over the cap gets
    ⌈log2(count/CAP)⌉ subsig bits appended to its pair key (rows
    with equal masked subsig share a pcell; the cluster splits into
    at most 2^bits pair cells), a cluster under the cap keeps ONE
    pair cell regardless of subsig, and rows with identical subsig
    always share a pcell — the exact-dup guarantee."""
    from collections import Counter

    from proceso_de_etl_spark.operators.dedup import (
        SEMDEDUP_CELL_CAP,
        _subsplit_pair_cells,
    )
    from proceso_de_etl_spark.operators.ml import SUBSIG_BITS
    from proceso_de_etl_spark.session import get_spark

    spark = get_spark(app_name="tests", cpus="8")
    big_n = 3 * SEMDEDUP_CELL_CAP  # ceil(log2(3)) = 2 bits
    rows = [(i, 0, i % 251) for i in range(big_n)]  # varied subsigs
    rows += [(big_n + i, 1, i % 251) for i in range(10)]  # small cell
    df = spark.createDataFrame(rows, "vec_id bigint, cluster bigint, subsig bigint")
    out = _subsplit_pair_cells(df, 2).collect()
    by_cluster: dict[int, set] = {}
    pcell_of = {}
    for r in out:
        by_cluster.setdefault(r.cluster, set()).add(r.pcell)
        pcell_of[r.vec_id] = r.pcell
    assert len(by_cluster[1]) == 1, "under-cap cluster must not split"
    assert 1 < len(by_cluster[0]) <= 4, "over-cap cluster splits into <= 2^2 cells"
    # masked-subsig rows co-locate: pcell is a pure function of
    # (cluster, subsig & 3)
    want = {r.vec_id: r.cluster * (1 << SUBSIG_BITS) + (r.subsig & 3 if r.cluster == 0 else 0)
            for r in df.collect()}
    assert pcell_of == want
    # split balance on the varied subsigs: no sub-cell above ~cap
    sizes = Counter(pcell_of[i] for i in range(big_n))
    assert max(sizes.values()) <= SEMDEDUP_CELL_CAP


def test_lsh_assignment_near_dup_coassignment_rate():
    """The r9 advisor's gap: the exact-duplicate guarantee above says
    nothing about GENUINE near-duplicates, which can straddle a
    hyperplane in every table and split across cells — silently
    dropping the pair from SemDeDup's per-cell join at scale. Measure
    the rate the scale path actually delivers: ε-perturb every sf0.01
    embedding (deterministic md5 sign pattern, ‖δ‖ = ε·‖x‖) and pin
    floors under the measured rates (0.986 at ε=0.01, 0.886 at
    ε=0.1 on this data/geometry)."""
    import hashlib

    from pyspark.sql import functions as F

    from proceso_de_etl_spark.operators.dedup import with_norm
    from proceso_de_etl_spark.operators.ml import (
        assign_clusters_lsh,
        kmeans_fit_two_level,
    )
    from proceso_de_etl_spark.session import get_spark
    from proceso_de_etl_spark.sources.catalog import load_table
    from tests.conftest import SF_CORRECT

    spark = get_spark(app_name="tests", cpus="8")
    emb = with_norm(load_table(spark, SF_CORRECT, "embeddings")).select(
        "vec_id", "embedding", "norm"
    )
    dim = 64
    signs = [
        1.0 if int(hashlib.md5(f"p:{i}".encode()).hexdigest()[:2], 16) % 2 == 0 else -1.0
        for i in range(dim)
    ]
    sarr = F.array(*[F.lit(s) for s in signs])
    cents = kmeans_fit_two_level(emb, 64)
    for eps, floor in ((0.01, 0.95), (0.1, 0.80)):
        pert = (
            emb.withColumn(
                "embedding",
                F.zip_with(
                    F.col("embedding").cast("array<double>"),
                    sarr,
                    lambda x, s: x + F.lit(eps) * s * F.col("norm") / F.lit(dim**0.5),
                ),
            )
            .withColumn("vec_id", F.col("vec_id") + F.lit(10_000_000))
            .select("vec_id", "embedding")
        )
        planted = emb.select("vec_id", "embedding").unionByName(pert)
        a = assign_clusters_lsh(planted, cents).select("vec_id", "cluster")
        orig = a.filter(F.col("vec_id") < 10_000_000).select(
            F.col("vec_id").alias("k"), F.col("cluster").alias("c1")
        )
        twin = a.filter(F.col("vec_id") >= 10_000_000).select(
            (F.col("vec_id") - 10_000_000).alias("k"), F.col("cluster").alias("c2")
        )
        j = orig.join(twin, "k")
        n = j.count()
        co = n - j.filter(F.col("c1") != F.col("c2")).count()
        assert n == emb.count()
        assert co / n >= floor, f"eps={eps}: co-assignment {co}/{n} below floor {floor}"


# ROADMAP item 9's palette: the empty string, ASCII, dotted capital I,
# sharp s, final sigma, a ligature, a combining mark, a non-BMP emoji,
# CJK and a zero-width space
HASH_PALETTE = [
    "",
    "order 42|7",
    "\u0130stanbul",
    "stra\u00dfe",
    "\u03bf\u03b4\u03bf\u03c2",
    "\ufb01le",
    "e\u0301",
    "\U0001f600",
    "\u6771\u4eac",
    "a\u200bb",
]


def test_md5_int_matches_hashlib_on_non_ascii(spark):
    """``md5_int`` and its DuckDB twin read the first n hex digits of
    the UTF-8 md5 as the same integer Python does, for every n in use
    and on non-ASCII input."""
    import hashlib

    import duckdb

    from proceso_de_etl_spark.functions.hashing import md5_int, md5_int_sql

    df = spark.createDataFrame(list(enumerate(HASH_PALETTE)), "i int, s string")
    con = duckdb.connect()
    for n in (2, 8, 15):
        got = dict(df.select("i", md5_int(F.col("s"), n)).collect())
        for i, s in enumerate(HASH_PALETTE):
            want = int(hashlib.md5(s.encode()).hexdigest()[:n], 16)
            duck = con.execute(f"SELECT {md5_int_sql('?', n)}", [s]).fetchone()[0]
            assert (got[i], duck) == (want, want), (n, s)
    con.close()


def test_digest_is_overflow_safe_and_engine_portable(spark):
    """The digest of terms whose BIGINT sum would overflow is the exact
    sum mod 2^61-1 on both engines (and NULL over no rows)."""
    import duckdb

    from proceso_de_etl_spark.functions.hashing import DIGEST_MOD, digest, digest_sql

    terms = [(1 << 62) + i for i in range(3)]
    df = spark.createDataFrame([(t,) for t in terms], "t bigint")
    want = sum(terms) % DIGEST_MOD
    assert df.agg(digest("t")).first()[0] == want
    assert df.filter("t < 0").agg(digest("t")).first()[0] is None
    con = duckdb.connect()
    con.execute("CREATE TABLE x (t BIGINT)")
    con.executemany("INSERT INTO x VALUES (?)", [(t,) for t in terms])
    assert con.execute(f"SELECT {digest_sql('t')} FROM x").fetchone()[0] == want
    con.close()
