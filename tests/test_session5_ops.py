"""Fifth-continuation-session operators: C4 cleaning rules,
perplexity-tercile bucketing, Zipf fit, cohort retention, and the
streaming PII drain.

Each test pins semantics against an INDEPENDENT recomputation (pure
Python / pandas over the same parquet), not against the DuckDB oracle
— the oracle equivalence is the driver's job; these prove the rules
mean what their docstrings say.
"""

import math
from collections import Counter

import pandas as pd
import pytest
from pyspark.sql import functions as F

from handprint_spark.operators.relational import q_ev_retention
from handprint_spark.operators.text_analysis import (
    _C4_KEEP_LINE,
    BP_WORDS_PER_LINE,
    C4_BRACE_MOD,
    C4_LOREM_MOD,
    C4_MIN_KEPT_LINES,
    C4_MIN_LINE_WORDS,
    ZIPF_TOP_R,
    q_ta_c4_rules,
    q_ta_pii_redact,
    q_ta_ppl_buckets,
    q_ta_zipf_fit,
)


def _c4_py(doc_id: int, text: str):
    """Pure-Python replay of the C4 verdict (line synthesis + rules)."""
    ws = text.split(" ")
    w = BP_WORDS_PER_LINE
    lines = []
    for i in range(math.ceil(len(ws) / w)):
        line = " ".join(ws[i * w : (i + 1) * w])
        h = (doc_id * 31 + i) % 7
        if h == 3:
            line = line + " javascript."
        elif h != 0:
            line = line + "."
        if i == 0 and doc_id % C4_LOREM_MOD == 0:
            line = "lorem ipsum " + line
        if i == 0 and doc_id % C4_BRACE_MOD == 0:
            line = line + " {"
        lines.append(line)
    kept = [
        l
        for l in lines
        if l.endswith(".")
        and len(l.split(" ")) >= C4_MIN_LINE_WORDS
        and "javascript" not in l
    ]
    brace = any("{" in l for l in lines)
    lorem = any("lorem ipsum" in l for l in lines)
    return (
        len(lines),
        len(kept),
        brace,
        lorem,
        (not brace and not lorem and len(kept) >= C4_MIN_KEPT_LINES),
    )


def test_c4_rules_match_python_replay(spark, sf_tiny):
    docs = pd.read_parquet(f"{sf_tiny}/documents.parquet")
    want = {
        int(r.doc_id): _c4_py(int(r.doc_id), r.text) for r in docs.itertuples()
    }
    got = {
        r["doc_id"]: (
            r["n_lines"],
            r["n_kept"],
            r["has_brace"],
            r["has_lorem"],
            r["c4_keep"],
        )
        for r in q_ta_c4_rules(spark, sf_tiny).collect()
    }
    assert got == want
    verdicts = {v[4] for v in want.values()}
    assert verdicts == {True, False}, "fixture must exercise both outcomes"


def test_c4_line_predicate_on_natural_text(spark):
    """The keep-line predicate is the real C4 rule — proven on
    hand-written English, not just the synthetic corpus."""
    rows = [
        ("This sentence is long enough and ends properly.", 1),
        ("Too short.", 0),  # < 5 words
        ("Please enable javascript to view this page.", 0),  # boilerplate
        ("no terminal punctuation on this line at all", 0),
        ("Function bodies look like this {", 0),  # no terminal '.'
    ]
    df = spark.createDataFrame([(t,) for t, _ in rows], "l string")
    got = df.select(
        F.size(F.expr(f"filter(array(l), {_C4_KEEP_LINE})")).alias("k")
    ).collect()
    assert [r["k"] for r in got] == [want for _, want in rows]


def test_ppl_buckets_tercile_structure(spark, sf_tiny):
    rows = q_ta_ppl_buckets(spark, sf_tiny).collect()
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r["lang"], []).append((r["bucket"], r["lp_micro"]))
    assert len(by_lang) >= 2
    for lang, pairs in by_lang.items():
        buckets = {b for b, _ in pairs}
        assert buckets == {"head", "middle", "tail"}, (lang, buckets)
        hi_head = max(lp for b, lp in pairs if b == "head")
        lo_mid = min(lp for b, lp in pairs if b == "middle")
        hi_mid = max(lp for b, lp in pairs if b == "middle")
        lo_tail = min(lp for b, lp in pairs if b == "tail")
        # bucket is a pure function of lp_micro vs the cutoffs, so the
        # value ranges must be strictly ordered head < middle < tail
        assert hi_head < lo_mid <= hi_mid < lo_tail, lang
        n = len(pairs)
        n_head = sum(1 for b, _ in pairs if b == "head")
        # terciles: each bucket holds roughly a third (ties can shift
        # the boundary, never by more than the tie mass; the synthetic
        # lp_micro values are near-unique so the slack is small)
        assert abs(n_head - n / 3) <= max(2, 0.1 * n), (lang, n_head, n)


def test_zipf_fit_matches_integer_replay(spark, sf_tiny):
    docs = pd.read_parquet(f"{sf_tiny}/documents.parquet")
    want = {}
    for lang, grp in docs.groupby("lang"):
        tf = Counter()
        for t in grp.text:
            tf.update(t.split(" "))
        top = sorted(tf.items(), key=lambda kv: (-kv[1], kv[0]))[:ZIPF_TOP_R]
        xs = [round(math.log(r + 1) * 1e6) for r in range(len(top))]
        ys = [round(math.log(c) * 1e6) for _, c in top]
        n = len(top)
        sx, sy = sum(xs), sum(ys)
        sxy = sum(x * y for x, y in zip(xs, ys))
        sxx = sum(x * x for x in xs)
        syy = sum(y * y for y in ys)
        num = n * sxy - sx * sy
        den_x = n * sxx - sx * sx
        den_y = n * syy - sy * sy
        want[lang] = (
            n,
            round(num / den_x, 6),
            round((float(num) * float(num)) / (float(den_x) * float(den_y)), 6),
        )
    got = {
        r["lang"]: (r["n_terms"], r["zipf_slope"], r["zipf_r2"])
        for r in q_ta_zipf_fit(spark, sf_tiny).collect()
    }
    assert got == want
    for lang, (_, slope, r2) in got.items():
        assert slope < 0, (lang, slope)  # frequency falls with rank
        assert 0.0 < r2 <= 1.0, (lang, r2)


def test_retention_matches_pandas_replay(spark, sf_tiny):
    ev = pd.read_parquet(f"{sf_tiny}/events.parquet")
    first = ev.groupby("user_id")["ts"].min()
    cohort = (
        first.dt.normalize() - pd.to_timedelta(first.dt.weekday, unit="D")
    ).rename("cohort")
    j = ev.join(cohort, on="user_id")
    j["week_offset"] = (j["ts"].dt.normalize() - j["cohort"]).dt.days // 7
    want = {
        (k[0].date(), int(k[1])): (int(g["user_id"].nunique()), int(len(g)))
        for k, g in j.groupby(["cohort", "week_offset"])
    }
    got = {
        (r["cohort_week"], r["week_offset"]): (r["n_users"], r["n_events"])
        for r in q_ev_retention(spark, sf_tiny).collect()
    }
    assert got == want
    # every offset is non-negative, and since each user's first event
    # lands at offset 0 of their own cohort, the offset-0 user counts
    # across cohorts sum to exactly the distinct-user total
    assert all(off >= 0 for _, off in got)
    assert sum(n for (_, off), (n, _) in got.items() if off == 0) == len(
        set(ev["user_id"])
    )


def test_rolling_anomaly_matches_pandas_replay(spark, sf_tiny):
    import math

    from handprint_spark.operators.relational import (
        ANOM_LOOKBACK,
        ANOM_Z,
        q_ev_rolling_anomaly,
    )

    ev = pd.read_parquet(f"{sf_tiny}/events.parquet")
    hours = (
        ev.assign(bucket=ev["ts"].dt.floor("h"))
        .groupby("bucket")
        .size()
        .sort_index()
    )
    ns = hours.values.tolist()
    want = {}
    for i, (bucket, n) in enumerate(hours.items()):
        frame = ns[max(0, i - ANOM_LOOKBACK) : i]
        z = None
        if len(frame) == ANOM_LOOKBACK:
            s1, s2, c = sum(frame), sum(x * x for x in frame), len(frame)
            if s2 * c != s1 * s1:
                z = round((n - s1 / c) / math.sqrt((s2 - s1 * s1 / c) / (c - 1)), 4)
        want[bucket.to_pydatetime()] = (
            int(n),
            z,
            (abs(z) > ANOM_Z) if z is not None else None,
        )
    got = {
        r["bucket"]: (r["n"], r["z_score"], r["is_anomaly"])
        for r in q_ev_rolling_anomaly(spark, sf_tiny).collect()
    }
    assert got == want
    # beyond warmup, a few frames are legitimately zero-variance at
    # this tiny SF (six consecutive 1-event hours) — require only that
    # the scored majority is real
    zs = [v[1] for v in got.values() if v[1] is not None]
    assert len(zs) > len(got) // 2, "mostly-unscored fixture"


def test_report_approx_within_hll_tolerance(spark, sf_tiny):
    from handprint_spark.operators.curation import (
        q_cur_report,
        q_cur_report_approx,
    )

    exact = {
        (r["lang"], r["source"]): r["n_unique"]
        for r in q_cur_report(spark, sf_tiny).collect()
    }
    rows = q_cur_report_approx(spark, sf_tiny).collect()
    assert {(r["lang"], r["source"]) for r in rows} == set(exact)
    for r in rows:
        e = exact[(r["lang"], r["source"])]
        assert abs(r["n_unique_approx"] - e) <= max(2, 0.05 * e), (r, e)
        assert 0.0 <= r["dup_rate_approx"] <= 1.0


def test_minhash_recall_curve_matches_python_replay(spark, sf_tiny):
    """Exact replay of the whole measured-recall pipeline: shingles,
    df-capped exact Jaccard at the low floor, demo MinHash sigs
    (md5-keyed min), banding, candidacy, decile bins."""
    import hashlib

    from handprint_spark.operators.dedup import (
        JACCARD_THRESHOLD,
        MAX_DF,
        RECALL_BIN_EPS,
        RECALL_FLOOR,
        q_dd_minhash_recall_curve,
    )

    docs = pd.read_parquet(f"{sf_tiny}/documents.parquet")
    sh = {}
    for r in docs.itertuples():
        ws = r.text.split(" ")
        sh[int(r.doc_id)] = {f"{a} {b}" for a, b in zip(ws, ws[1:])}
    # exact jaccard over the df-capped posting
    from collections import Counter, defaultdict

    df_count = Counter(g for gs in sh.values() for g in gs)
    inv = defaultdict(list)
    for d, gs in sh.items():
        for g in gs:
            if df_count[g] <= MAX_DF:
                inv[g].append(d)
    inter = Counter()
    for g, ds in inv.items():
        ds = sorted(ds)
        for i in range(len(ds)):
            for j in range(i + 1, len(ds)):
                inter[(ds[i], ds[j])] += 1
    exact = {}
    for (d1, d2), ni in inter.items():
        jac = round(ni / (len(sh[d1]) + len(sh[d2]) - ni), 4)
        if jac >= RECALL_FLOOR:
            exact[(d1, d2)] = jac
    # demo minhash candidacy
    def sigs(gs):
        return [
            min(hashlib.md5(f"{i}|{g}".encode()).hexdigest() for g in gs)
            for i in range(4)
        ]
    band = defaultdict(set)
    for d, gs in sh.items():
        if not gs:
            continue
        s = sigs(gs)
        band[f"b0|{s[0]}|{s[1]}"].add(d)
        band[f"b1|{s[2]}|{s[3]}"].add(d)
    cand = set()
    for ds in band.values():
        ds = sorted(ds)
        for i in range(len(ds)):
            for j in range(i + 1, len(ds)):
                cand.add((ds[i], ds[j]))
    import math

    want = defaultdict(lambda: [0, 0])
    for pair, jac in exact.items():
        b = int(math.floor(jac * 10 + RECALL_BIN_EPS) * 10)
        want[b][0] += 1
        want[b][1] += int(pair in cand)
    want = {
        b: (n, h, round(h / n, 6)) for b, (n, h) in want.items()
    }
    got = {
        r["sim_bin_pct"]: (r["n_pairs"], r["n_candidates"], r["recall"])
        for r in q_dd_minhash_recall_curve(spark, sf_tiny).collect()
    }
    assert got == want
    bins = sorted(got)
    assert got[bins[0]][2] < 0.2 and got[bins[-1]][2] == 1.0
    assert JACCARD_THRESHOLD > RECALL_FLOOR  # curve floor really is lower


def test_mix_report_closes_over_mix_output(spark, sf_tiny):
    """The audit's kept_tok must equal the actual mix output's
    per-source token sums, fill_ratio ~1 for sampled sources and the
    capped flag must mark exactly the keep-everything sources."""
    from handprint_spark.operators.curation import (
        q_cur_domain_mix,
        q_cur_mix_report,
    )

    kept = {}
    for r in q_cur_domain_mix(spark, sf_tiny).collect():
        kept[r["source"]] = kept.get(r["source"], 0) + r["n_tokens"]
    rows = q_cur_mix_report(spark, sf_tiny).collect()
    assert {r["source"] for r in rows} >= set(kept)
    from handprint_spark.operators.curation import MIX_SHRINK

    tok_total = sum(r["tok_s"] for r in rows)
    saw_capped = saw_sampled = False
    agg_kept = agg_target = 0.0
    for r in rows:
        assert r["kept_tok"] == kept.get(r["source"], 0)
        target = tok_total * r["weight_permille"] * MIX_SHRINK / 1e6
        if r["capped"]:
            saw_capped = True
            # capped = whole source kept, so kept == tok_s and the
            # budget is underfilled
            assert r["kept_tok"] == r["tok_s"]
            assert r["fill_ratio"] < 1.0
        else:
            saw_sampled = True
            # per-source fill wobbles with doc-count granularity at
            # tiny SF; the binding check is aggregate fill below
            assert 0.0 <= r["fill_ratio"] <= 3.0, r
            assert r["fill_ratio"] == round(r["kept_tok"] / target, 4)
            agg_kept += r["kept_tok"]
            agg_target += target
    assert saw_capped and saw_sampled, "fixture must exercise both arms"
    # aggregate fill across sampled sources is budget-accurate even
    # where single small sources wobble
    assert 0.6 <= agg_kept / agg_target <= 1.4


def test_refetch_priority_semantics(spark, sf_tiny):
    """change_rate must be the distinct-version share of the revisit
    history, the three priority classes must all occur, and static
    URLs (one version) must always be cold."""
    from handprint_spark.operators.html_extract import (
        REFETCH_HOT,
        q_hx_refetch_priority,
    )

    rows = q_hx_refetch_priority(spark, sf_tiny).collect()
    classes = {r["priority"] for r in rows}
    assert classes == {"hot", "warm", "cold"}
    for r in rows:
        assert 1 <= r["n_versions"] <= r["n_snapshots"]
        want = round(
            (r["n_versions"] - 1) / max(r["n_snapshots"] - 1, 1), 4
        )
        assert r["change_rate"] == want
        if r["n_versions"] == 1:
            assert r["priority"] == "cold"
        if r["change_rate"] >= REFETCH_HOT:
            assert r["priority"] == "hot"


def test_phash_clusters_close_over_pairs(spark, sf_tiny):
    """Cluster labels must be the connected-component min over the
    actual verified pair graph (recomputed with a Python union-find),
    keepers exactly the label-owners."""
    from handprint_spark.corpus import load_documents_spans
    from handprint_spark.operators.multimodal import (
        media_phash,
        phash_pairs,
        q_mm_phash_clusters,
    )

    hashes = media_phash(load_documents_spans(spark, sf_tiny))
    pairs = [(r["ref_a"], r["ref_b"]) for r in phash_pairs(hashes).collect()]
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp = {}
    for node in parent:
        comp.setdefault(find(node), set()).add(node)
    want = {}
    for members in comp.values():
        label = min(members)
        for m in members:
            want[m] = (label, m == label)
    got = {
        r["media_ref"]: (r["cluster"], r["is_keeper"])
        for r in q_mm_phash_clusters(spark, sf_tiny).collect()
    }
    assert got == want
    assert any(k for _, k in got.values()) and not all(k for _, k in got.values())


def test_stream_pii_redact_batch_parity(spark, sf_tiny):
    from handprint_spark.streaming.queries import q_st_pii_redact

    batch = {tuple(r) for r in q_ta_pii_redact(spark, sf_tiny).collect()}
    stream = {tuple(r) for r in q_st_pii_redact(spark, sf_tiny).collect()}
    assert stream == batch
    assert any(r[2] for r in batch), "fixture must contain PII rows"


def test_ahash64_planted_plane():
    import numpy as np

    from handprint_spark.operators.multimodal import ahash64

    # top half bright, bottom half dark: top 32 bits set, bottom clear
    px = np.zeros((16, 16), dtype=np.uint8)
    px[:8, :] = 200
    assert ahash64(px) == int(np.int64(np.uint64(0xFFFFFFFF00000000)))
    # all-equal plane: no block exceeds the global mean (strict >)
    assert ahash64(np.full((16, 16), 7, dtype=np.uint8)) == 0


def test_media_phash_exact_under_corrupt_sibling(spark):
    """Regression: a corrupt media object in the same Arrow batch must
    not degrade valid rows' hashes (mixed int/None pandas columns
    coerce to float64 and round 64-bit hashes at the 53-bit mantissa —
    caught live at sf0.01)."""
    from handprint_spark.kernels.codec import encode_media
    from handprint_spark.kernels import codec as codec_mod
    from handprint_spark.operators.multimodal import ahash64, media_phash

    texts = ["query filter vector spark scan part", "key agg row scan slow fast"]
    media = [
        {"media_ref": f"t/line-{i}", "content": encode_media(t)}
        for i, t in enumerate(texts)
    ]
    media.append({"media_ref": "t/line-2", "content": b"not a media object"})
    df = spark.createDataFrame(
        [("t", media)],
        "doc_id string, media array<struct<media_ref:string,content:binary>>",
    )
    got = {r["media_ref"]: r["phash"] for r in media_phash(df).collect()}
    assert got["t/line-2"] is None
    for i, t in enumerate(texts):
        info = codec_mod.decode_media(encode_media(t))
        px = codec_mod.render_pixels(t, info.width, info.height)
        assert got[f"t/line-{i}"] == ahash64(px), t


def test_phash_pairs_pigeonhole(spark):
    """Banded join finds every pair within hd<=3 (pigeonhole over four
    16-bit bands) and the hd filter drops near-misses that still share
    a band."""
    from handprint_spark.operators.multimodal import phash_pairs

    h0 = 0x0123456789ABCDEF
    rows = [
        ("a", h0),
        ("b", h0 ^ 0b111),            # hd 3, same low band differs only
        ("c", h0 ^ (1 << 0) ^ (1 << 16) ^ (1 << 32) ^ (1 << 48)),  # hd 4, no intact band
        ("d", h0 ^ 0xFFFF),           # hd 16, bands 1-3 intact -> candidate, filtered
        ("e", h0),                    # exact dup of a
    ]
    df = spark.createDataFrame(rows, "media_ref string, phash long")
    got = {(r["ref_a"], r["ref_b"]): r["hd"] for r in phash_pairs(df).collect()}
    assert got == {("a", "b"): 3, ("a", "e"): 0, ("b", "e"): 3}


def test_filtered_topk_pushdown_and_exactness(spark, sf_tiny):
    import numpy as np

    from handprint_spark.operators.similarity import (
        FILTERED_LABELS,
        TOPK,
        q_sim_filtered_topk,
    )

    emb = pd.read_parquet(f"{sf_tiny}/embeddings.parquet")
    qv = np.asarray(emb.loc[emb.vec_id == 0, "embedding"].iloc[0], dtype=np.float64)
    sub = emb[(emb.label.isin(FILTERED_LABELS)) & (emb.vec_id != 0)]
    M = np.stack(sub.embedding.values).astype(np.float64)
    cos = np.round(M @ qv / (np.linalg.norm(M, axis=1) * np.linalg.norm(qv)), 4)
    order = sorted(
        zip(sub.vec_id.values, sub.label.values, cos), key=lambda t: (-t[2], t[0])
    )[:TOPK]
    want = [(int(v), int(l), float(s)) for v, l, s in order]
    df = q_sim_filtered_topk(spark, sf_tiny)
    got = [(r["vec_id"], r["label"], r["cos"]) for r in df.collect()]
    assert got == want
    assert all(l in FILTERED_LABELS for _, l, _ in got)
    plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "simple")
    assert "PushedFilters" in plan and "In(label" in plan, plan[:2000]


def test_ngram_novelty_matches_python_replay(spark, sf_tiny):
    from handprint_spark.operators.text_analysis import (
        NOVELTY_N,
        q_ta_ngram_novelty,
    )

    docs = pd.read_parquet(f"{sf_tiny}/documents.parquet").sort_values("doc_id")
    first = {}
    per_doc = {}
    for r in docs.itertuples():
        ws = r.text.split(" ")
        grams = {
            " ".join(ws[i : i + NOVELTY_N]) for i in range(len(ws) - NOVELTY_N + 1)
        }
        if not grams:
            continue
        per_doc[int(r.doc_id)] = grams
        for g in grams:
            first.setdefault(g, int(r.doc_id))
    want = {
        d: (
            len(gs),
            sum(1 for g in gs if first[g] == d),
            round(sum(1 for g in gs if first[g] == d) / len(gs), 6),
        )
        for d, gs in per_doc.items()
    }
    got = {
        r["doc_id"]: (r["n_grams"], r["n_novel"], r["novelty"])
        for r in q_ta_ngram_novelty(spark, sf_tiny).collect()
    }
    assert got == want
    novs = [v[2] for v in got.values()]
    assert min(novs) < 1.0, "fixture must contain shared grams"
    assert max(novs) == 1.0  # the earliest doc is all-novel by construction


def test_ab_test_matches_pandas_replay(spark, sf_tiny):
    import math

    from handprint_spark.operators.relational import AB_SALT, q_ev_ab_test

    ev = pd.read_parquet(f"{sf_tiny}/events.parquet")
    ev["cents"] = [
        int(round(v * 100)) if t == "purchase" else 0
        for v, t in zip(ev["value"], ev["event_type"])
    ]
    spend = ev.groupby("user_id")["cents"].sum()
    variant = (spend.index.to_series() + AB_SALT) % 2
    a = spend[variant == 0].astype("int64")
    b = spend[variant == 1].astype("int64")
    n_a, n_b = len(a), len(b)
    m_a, m_b = a.sum() / n_a, b.sum() / n_b
    v_a = (int((a * a).sum()) - int(a.sum()) ** 2 / n_a) / (n_a - 1)
    v_b = (int((b * b).sum()) - int(b.sum()) ** 2 / n_b) / (n_b - 1)
    z = (m_a - m_b) / math.sqrt(v_a / n_a + v_b / n_b)
    [r] = q_ev_ab_test(spark, sf_tiny).collect()
    assert (r["n_a"], r["n_b"]) == (n_a, n_b)
    assert r["mean_cents_a"] == round(m_a, 4) and r["mean_cents_b"] == round(m_b, 4)
    assert abs(r["z_score"] - round(z, 4)) <= 1e-4
    assert n_a > 0 and n_b > 0 and abs(r["z_score"]) < 10


def test_stream_c4_rules_batch_parity(spark, sf_tiny):
    from handprint_spark.streaming.queries import q_st_c4_rules

    batch = {tuple(r) for r in q_ta_c4_rules(spark, sf_tiny).collect()}
    stream = {tuple(r) for r in q_st_c4_rules(spark, sf_tiny).collect()}
    assert stream == batch
    assert {r[5] for r in batch} == {True, False}

