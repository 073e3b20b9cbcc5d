"""Physical-plan shape assertions: the plans we'd want at 100 TB, not
just plans that pass. Verifies predicate pushdown reaches the parquet
scan, small dims broadcast, and the extraction pipeline is
shuffle-free. The ``test_skew_aware_*`` heavy-document layouts are
those of the removed heavy-document split: every document takes
``extract_documents``' one plan, which returns ``extract_one``'s spans
for each of them; ``extract_skew_aware`` is that plan under the
benchmark's name."""

import inspect

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from handprint_spark.corpus import load_documents_spans
from handprint_spark.operators.extract import extract_documents, extract_one
from handprint_spark.operators.relational import (
    q_j1_broadcast_join,
    q_s2_whitelist_filter,
)
from handprint_spark.plans.partitioning import extract_skew_aware


def plan_str(df, mode="formatted"):
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode
    )


def test_filter_pushdown_reaches_scan(spark, sf_small):
    plan = plan_str(q_s2_whitelist_filter(spark, sf_small))
    assert "PushedFilters" in plan
    assert "p_size" in plan.split("PushedFilters")[1][:200]


def test_column_pruning(spark, sf_small):
    df = spark.read.parquet(f"{sf_small}/lineitem.parquet").select("l_orderkey")
    plan = plan_str(df)
    rs = plan.split("ReadSchema")[1][:120]
    assert "l_orderkey" in rs and "l_extendedprice" not in rs


def test_broadcast_join_used(spark, sf_small):
    plan = plan_str(q_j1_broadcast_join(spark, sf_small))
    assert "BroadcastHashJoin" in plan


def test_extraction_pipeline_is_shuffle_free(spark, sf_tiny):
    df = extract_documents(load_documents_spans(spark, sf_tiny))
    plan = plan_str(df, "simple")
    assert "Exchange" not in plan  # scan -> project/UDF -> done


def test_whole_stage_codegen_and_partial_agg(spark, sf_small):
    df = q_s2_whitelist_filter(spark, sf_small)
    df.collect()  # materialize so AQE finalizes the plan
    plan = plan_str(df, "simple")
    # map-side combine (partial_ aggregate) before the exchange
    assert "partial_count" in plan or "partial_min" in plan
    # executed plan runs inside whole-stage codegen
    assert "WholeStageCodegen" in plan or "*(1)" in plan or "isFinalPlan=true" in plan


def test_skew_aware_equals_plain(spark, sf_tiny):
    spans = load_documents_spans(spark, sf_tiny).limit(250).cache()
    plain = {
        r.doc_id: ([(s.kind, s.text, s.media_ref, s.offset) for s in r.spans],
                   r.n_media, r.n_errors)
        for r in extract_documents(spans).collect()
    }
    skew = {
        r.doc_id: ([(s.kind, s.text, s.media_ref, s.offset) for s in r.spans],
                   r.n_media, r.n_errors)
        for r in extract_skew_aware(spans, media_per_chunk=16, skew_threshold=40).collect()
    }
    assert plain == skew
    spans.unpersist()


def test_skew_aware_general_layout(spark):
    """A layout off the corpus's 2-spans-per-media interleave: 3 text
    spans per media and trailing text spans."""
    from handprint_spark.corpus import encode_line_media

    spans, media = [], []
    off = 0
    for i in range(9):
        # three text spans before each media span (3:1, not 2:1)
        for t in range(3):
            spans.append({"kind": "text", "text": f"t{i}-{t}", "media_ref": "", "offset": off})
            off += 1
        ref = f"gdoc/line-{i}"
        spans.append({"kind": "line_image", "text": "", "media_ref": ref, "offset": off})
        off += 1
        media.append({"media_ref": ref, "content": encode_line_media("gdoc", i, f"w{i}")})
    spans.append({"kind": "text", "text": "tail", "media_ref": "", "offset": off})
    row = _assert_extract_one(spark, spans, media)
    assert row.n_media == 9 and row.n_errors == 0


def test_skew_split_actually_triggers(spark, sf_tiny):
    """The corpus skew slice (doc_slice_hash % 211 == 0) holds docs of
    more than 40 media, so test_skew_aware_without_heavy_row_plans_bulk
    runs over heavy docs."""
    spans = load_documents_spans(spark, sf_tiny)
    heavy = spans.filter(F.size("media") > 40).count()
    assert heavy >= 1


def _heavy_doc(spark, spans, media):
    from handprint_spark.corpus import MEDIA_TYPE, SPAN_TYPE
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("doc_id", T.StringType()),
            T.StructField("spans", SPAN_TYPE),
            T.StructField("media", MEDIA_TYPE),
        ]
    )
    return spark.createDataFrame([("hdoc", spans, media)], schema)


def _assert_extract_one(spark, spans, media):
    """extract_documents over the one-doc table returns extract_one's
    spans, media count and error count for it, once; returns the row."""
    rows = extract_documents(_heavy_doc(spark, spans, media)).collect()
    _, exp, n_media, n_errors = extract_one("hdoc", spans, media)
    assert [([s.asDict() for s in r.spans], r.n_media, r.n_errors) for r in rows] == [
        (exp, n_media, n_errors)]
    return rows[0]


def _ref(i):
    return f"hdoc/line-{i:02d}"


def _media_span(ref, off):
    return {"kind": "line_image", "text": "", "media_ref": ref, "offset": off}


def _text_span(text, off):
    return {"kind": "text", "text": text, "media_ref": "", "offset": off}


def _media_obj(i, word="w"):
    from handprint_spark.corpus import encode_line_media

    return {"media_ref": _ref(i), "content": encode_line_media("hdoc", i, f"{word}{i}")}


def _case_media_reordered():
    spans = [_media_span(_ref(i), i) for i in range(10)]
    return spans, [_media_obj(i) for i in (7, 2, 9, 0, 5, 1, 8, 3, 6, 4)]


def _case_missing_media():
    spans = [_media_span(_ref(i), i) for i in range(10)]
    return spans, [_media_obj(i) for i in range(10) if i != 4]


def _case_duplicate_ref_last_wins():
    spans = [_media_span(_ref(i), i) for i in range(10)]
    return spans, [_media_obj(i) for i in range(10)] + [_media_obj(5, word="later")]


def _case_ref_order_not_offset_order():
    # refs descend as offsets ascend, so ref order is not offset order
    spans = [_media_span(_ref(9 - i), i) for i in range(10)]
    return spans, [_media_obj(i) for i in range(10)]


def _case_text_around_media():
    spans, off = [_text_span("head", 0), _text_span("head2", 1)], 2
    for i in range(10):
        spans += [_media_span(_ref(i), off), _text_span(f"between-{i}", off + 1)]
        off += 2
    spans.append(_text_span("tail", off))
    return spans, [_media_obj(i) for i in range(10)]


def _case_null_refs():
    # a null ref sorts lowest; the narrow path still looks it up
    spans = [_media_span(_ref(i), i) for i in range(9)] + [_media_span(None, 9)]
    media = [_media_obj(i) for i in range(9)] + [dict(_media_obj(9), media_ref=None)]
    return spans, media


@pytest.mark.parametrize(
    "case",
    [
        _case_media_reordered,
        _case_missing_media,
        _case_duplicate_ref_last_wins,
        _case_ref_order_not_offset_order,
        _case_text_around_media,
        _case_null_refs,
    ],
)
def test_skew_aware_chunking_equals_narrow(spark, case):
    """A heavy doc of 10 media spans gives extract_one's result,
    however its media array, refs, offsets and text spans are
    arranged."""
    _assert_extract_one(spark, *case())


def test_skew_aware_duplicate_ref_picks_later_object(spark):
    """The case above compares with extract_one; this pins what both
    do: the later of two objects sharing a ref wins."""
    row = _assert_extract_one(spark, *_case_duplicate_ref_last_wins())
    texts = {s.media_ref: s.text for s in row.spans}
    assert texts["hdoc/line-05"] == "later5"
    assert row.n_errors == 0


def _layout_one_null_offset():
    # refs descend as offsets ascend, and one span has no offset
    spans = [_media_span(_ref(9 - i), i) for i in range(10)]
    spans[3] = _media_span(_ref(6), None)
    return spans, [_media_obj(i) for i in range(10)]


def _layout_two_null_offsets():
    spans = [_text_span("head", None)] + [_media_span(_ref(i), i) for i in range(10)]
    spans[7] = _media_span(_ref(6), None)
    return spans, [_media_obj(i) for i in range(10)]


def _layout_offsets_tied_across_chunks():
    # refs descend as offsets ascend, two spans per offset
    return ([_media_span(_ref(9 - i), i // 2) for i in range(10)],
            [_media_obj(i) for i in range(10)])


def _layout_text_and_media_share_offset():
    spans = [_media_span(_ref(i), 2 * i) for i in range(10)]
    spans.insert(5, _text_span("tied", 8))
    return spans, [_media_obj(i) for i in range(10)]


def _layout_null_media_list():
    return [_media_span(_ref(i), i) for i in range(10)], None


def _layout_null_spans_list():
    return None, [_media_obj(i) for i in range(10)]


def _layouts():
    from test_extract_pipeline import NULL_LAYOUTS

    heavy = (_layout_one_null_offset, _layout_two_null_offsets,
             _layout_offsets_tied_across_chunks, _layout_text_and_media_share_offset,
             _layout_null_media_list, _layout_null_spans_list)
    return {**{f.__name__[len("_layout_"):]: f() for f in heavy},
            **{name: (spans, media) for name, (spans, media, _, _) in NULL_LAYOUTS.items()}}


LAYOUTS = _layouts()


@pytest.mark.parametrize("layout", sorted(LAYOUTS))
def test_skew_aware_returns_extract_one_spans(spark, layout):
    """Every heavy doc comes back once, with extract_one's spans in
    extract_one's order, whether or not its offsets alone order its
    spans."""
    _assert_extract_one(spark, *LAYOUTS[layout])



def test_minhash_sigs_single_exchange(spark, sf_small):
    """Pre-explode doc_id partitioning: the shingle explode + signature
    groupBy must reuse one exchange — the exploded fan-out (the big
    data) never shuffles."""
    from handprint_spark.operators.dedup import _docs, _minhash_sigs

    plan = plan_str(_minhash_sigs(_docs(spark, sf_small, spread=True)), "simple")
    assert plan.count("Exchange") == 1


def test_ivf_probes_broadcast(spark, sf_small):
    """IVF probe join must broadcast the tiny probe side (and never
    fall back to a nested-loop join)."""
    from handprint_spark.operators.similarity import q_sim_ivf_ann

    plan = plan_str(q_sim_ivf_ann(spark, sf_small))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_neardup_pair_queries_no_cartesian(spark, sf_small):
    """The two near-dup pair generators must join only within
    chunk/band buckets — a cross or inequality-only join is the
    10^24-comparison scale killer at 10^12 docs."""
    from handprint_spark.operators.dedup import (
        q_dd_embedding_neardup,
        q_dd_simhash_pairs,
    )

    for q in (q_dd_simhash_pairs, q_dd_embedding_neardup):
        plan = plan_str(q(spark, sf_small))
        assert "CartesianProduct" not in plan, q.__name__
        assert "BroadcastNestedLoopJoin" not in plan, q.__name__


def test_jaccard_single_join_no_sizes_broadcast(spark, sf_small):
    """The pair-Jaccard plan must contain exactly ONE join (the capped
    posting self-join): the per-doc sizes ride the posting rows, so
    there is no one-row-per-document side table — broadcasting one
    (round 2's plan) is a driver OOM at corpus scale, not a
    broadcast."""
    from handprint_spark.operators.dedup import q_dd_ngram_jaccard

    df = q_dd_ngram_jaccard(spark, sf_small)
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    # exactly one Join node; whether the planner broadcasts a side of
    # the POSTING self-join at toy scale is its call (both sides scale
    # with data and AQE re-decides at runtime) — what must never exist
    # is a second join against a per-doc aggregate
    assert optimized.count("Join ") == 1, optimized
    assert "Aggregate" not in optimized.split("Join ")[1], optimized


def test_ann_index_probe_partition_prunes(spark, sf_small, tmp_path):
    """A probe of the materialized LSH index must read ONLY the query
    bucket's partition: the scan's partition filter carries the bucket
    predicate, and the pruned file count is a small fraction of the
    index cells."""
    from handprint_spark.operators.ann_index import build_ann_index, probe_lsh
    from handprint_spark.operators.similarity import _query_vec, bucket_of

    index_dir = build_ann_index(spark, sf_small, index_dir=str(tmp_path / "lsh"))
    files = list((tmp_path / "lsh").rglob("*.parquet"))
    codecs = {md.row_group(g).column(c).compression
              for md in map(pq.read_metadata, files)
              for g in range(md.num_row_groups) for c in range(md.num_columns)}
    assert files and codecs == {"ZSTD"}, codecs  # the table sink's codec
    qv = _query_vec(spark, sf_small, 0)
    probe = probe_lsh(spark, index_dir, qv, exclude_vec_id=0, prune="filter")
    plan = plan_str(probe)
    assert "PartitionFilters" in plan
    assert f"bucket = {bucket_of(qv)}" in plan or "bucket#" in plan.split("PartitionFilters")[1][:200]
    # and it returns exactly the oracle row set shape (vec_id, cos)
    assert probe.columns == ["vec_id", "cos"]
    # the manifest-prune stand-in (direct partition path) reads the
    # same cell: identical row set
    direct = probe_lsh(spark, index_dir, qv, exclude_vec_id=0, prune="path")
    assert {(r.vec_id, r.cos) for r in direct.collect()} == {
        (r.vec_id, r.cos) for r in probe.collect()
    }


def test_ann_index_cache_key_tracks_content_and_path(tmp_path):
    """The default index dir must change when the corpus content
    changes (no stale-index serves after an in-place rewrite) and must
    differ for distinct corpus dirs whose mangled names would collide."""
    import shutil

    from handprint_spark.operators.ann_index import _index_dir

    corpus = tmp_path / "sf_a"
    corpus.mkdir()
    shutil.copy("/root/testdata/sf0.001/embeddings.parquet", corpus / "embeddings.parquet")
    before = _index_dir(str(corpus), "lsh")
    # in-place rewrite (content change) -> different cache dir
    with open(corpus / "embeddings.parquet", "ab") as fh:
        fh.write(b"x")
    assert _index_dir(str(corpus), "lsh") != before
    # underscore/slash mangling collision: distinct dirs, distinct keys
    twin = tmp_path / "sf" / "a"
    twin.mkdir(parents=True)
    shutil.copy("/root/testdata/sf0.001/embeddings.parquet", twin / "embeddings.parquet")
    assert _index_dir(str(twin), "lsh") != _index_dir(str(corpus), "lsh")


def test_ivf_index_probe_matches_computed(spark, sf_small, tmp_path):
    """probe_ivf over the materialized inverted lists returns the same
    rows as the computed q_sim_ivf_ann plan."""
    from handprint_spark.operators.ann_index import build_ivf_index, probe_ivf
    from handprint_spark.operators.similarity import _query_vec, q_sim_ivf_ann

    index_dir = build_ivf_index(spark, sf_small, index_dir=str(tmp_path / "ivf"))
    qv = _query_vec(spark, sf_small, 0)
    probed = {
        (r.vec_id, r.cent_id, r.cos)
        for r in probe_ivf(spark, sf_small, index_dir, qv, exclude_vec_id=0).collect()
    }
    computed = {
        (r.vec_id, r.cent_id, r.cos) for r in q_sim_ivf_ann(spark, sf_small).collect()
    }
    assert probed == computed and len(probed) > 0


def test_sessionize_single_exchange(spark, sf_small):
    """Both windows and the per-session aggregate share
    hashpartitioning(user_id): exactly ONE exchange in the plan."""
    from handprint_spark.operators.relational import q_ev_sessionize

    plan = plan_str(q_ev_sessionize(spark, sf_small), "simple")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "CartesianProduct" not in plan


def test_pii_redact_zero_exchange(spark, sf_small):
    """The PII scrub is a pure narrow map — no shuffle at any width."""
    from handprint_spark.operators.text_analysis import q_ta_pii_redact

    assert "Exchange" not in plan_str(q_ta_pii_redact(spark, sf_small), "simple")


@pytest.mark.parametrize(
    "qname",
    ["dd_substring_dup", "dd_contamination", "ta_boilerplate_strip"],
)
def test_posting_list_queries_no_quadratic_join(spark, sf_small, qname):
    """The three posting-list queries join only on well-spread gram/
    line keys: no cartesian, no broadcast nested loop anywhere."""
    from handprint_spark.operators import dedup, text_analysis

    q = {**dedup.QUERIES, **text_analysis.QUERIES}[qname]
    plan = plan_str(q(spark, sf_small), "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


@pytest.mark.parametrize("qname", ["ev_asof_join", "j_interval_join"])
def test_missing_native_operators_avoid_pair_blowup(spark, sf_small, qname):
    """The as-of and range joins must compile to window/equi-join
    plans — no nested-loop or cartesian pair enumeration anywhere."""
    from handprint_spark.operators import relational

    plan = plan_str(relational.QUERIES[qname](spark, sf_small), "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_frame_sample_query_is_shuffle_free(spark, sf_tiny):
    """Build, 1->N frame fan-out, and decode are all narrow stages."""
    from handprint_spark.operators.multimodal import q_mm_frame_sample

    assert "Exchange" not in plan_str(q_mm_frame_sample(spark, sf_tiny), "simple")


def test_quantize_int8_jvm_only_and_narrow(spark, sf_small):
    """Quantization is pure Catalyst (no Python worker) and narrow."""
    from handprint_spark.operators.similarity import q_sim_quantize_int8

    plan = plan_str(q_sim_quantize_int8(spark, sf_small), "simple")
    assert "Exchange" not in plan
    assert "EvalPython" not in plan  # no ArrowEval/BatchEval stage


def test_quantized_topk_plan_is_scan_score_takeordered(spark, sf_small):
    """Quantized search: narrow scan -> HOF quantize -> Arrow score ->
    TakeOrdered; no shuffle exchange anywhere."""
    from handprint_spark.operators.similarity import q_sim_quantized_topk

    plan = plan_str(q_sim_quantized_topk(spark, sf_small), "simple")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange hashpartitioning" not in plan


def test_shard_pack_single_exchange_for_window(spark, sf_small):
    """The packing window adds exactly one hash exchange on shard
    beyond the keep-list's own joins."""
    from handprint_spark.operators.curation import q_cur_shard_pack

    plan = plan_str(q_cur_shard_pack(spark, sf_small), "simple")
    assert plan.count("Exchange hashpartitioning(shard") == 1


def test_ivf_quantized_prunes_and_broadcasts(spark, sf_small):
    """IVF-SQ: probe set broadcast (no shuffle join), quantize stays
    in Catalyst HOFs, scoring in one Arrow stage."""
    from handprint_spark.operators.similarity import q_sim_ivf_quantized

    plan = plan_str(q_sim_ivf_quantized(spark, sf_small), "simple")
    assert "BroadcastHashJoin" in plan
    assert "Exchange hashpartitioning" not in plan


def test_html_main_content_zero_exchange_jvm_only(spark, sf_small):
    """The DOM-heuristic extractor is ONE projection: scan -> HOF
    classify/filter/reassemble. No shuffle, no Python worker — the
    whole 10^12-page strip is whole-stage-codegen JVM work."""
    from handprint_spark.operators.html_extract import q_hx_main_content

    plan = plan_str(q_hx_main_content(spark, sf_small), "simple")
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


def test_chunk_tokens_zero_exchange_jvm_only(spark, sf_small):
    """Token-window chunking: sequence/transform/slice HOFs + narrow
    explode. A pretokenization job pays one scan and zero shuffles."""
    from handprint_spark.operators.html_extract import q_ct_chunk_tokens

    plan = plan_str(q_ct_chunk_tokens(spark, sf_small), "simple")
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


def test_outlinks_two_stage_distinct_partial_agg(spark, sf_small):
    """Outlink counting with count_distinct(doc_id) takes Spark's
    two-stage distinct shape: partial agg on (href, doc_id), exchange,
    merge, then the final exchange on href — exactly two exchanges,
    with a map-side partial below the first (never a global distinct
    or a re-scan)."""
    from handprint_spark.operators.html_extract import q_hx_outlinks

    plan = plan_str(q_hx_outlinks(spark, sf_small), "simple")
    assert plan.count("Exchange hashpartitioning") == 2
    assert "partial_count" in plan


def test_lay_paragraphs_single_exchange(spark, sf_small):
    """Layout paragraph clustering: the lag window, the cumulative
    break-flag window, and the per-(doc, para) rollup all share
    hashpartitioning(doc_id) — exactly ONE exchange; 10^12 pages each
    carry their own box list through a single shuffle."""
    from handprint_spark.operators.service_queries import q_lay_paragraphs

    plan = plan_str(q_lay_paragraphs(spark, sf_small), "simple")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "EvalPython" not in plan


def test_gopher_rules_zero_exchange_jvm_only(spark, sf_small):
    """The Gopher rule bundle is two stacked projections of HOFs —
    zero shuffle, zero Python at any corpus size."""
    from handprint_spark.operators.text_analysis import q_ta_gopher_rules

    plan = plan_str(q_ta_gopher_rules(spark, sf_small), "simple")
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


def test_lay_columns_single_exchange(spark, sf_small):
    """XY-cut horizontal pass: cumulative-max gutter detection and the
    per-column rollup share hashpartitioning(doc_id) — ONE exchange."""
    from handprint_spark.operators.service_queries import q_lay_columns

    plan = plan_str(q_lay_columns(spark, sf_small), "simple")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "EvalPython" not in plan


def test_lay_reading_order_single_exchange(spark, sf_small):
    """Column-aware reading order: the gutter window and the rank
    window both partition by doc_id — ONE exchange, two sorts."""
    from handprint_spark.operators.service_queries import q_lay_reading_order

    plan = plan_str(q_lay_reading_order(spark, sf_small), "simple")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "EvalPython" not in plan


def test_host_budget_two_phase_topk(spark, sf_small):
    """Per-host budget is skew-safe: a local (host, partition) rank
    precedes the per-host rank, so the heavy host's global window sees
    at most K x partitions rows. Plan: exactly three hashpartitioning
    exchanges (local window, host window, totals agg) and a broadcast
    join for the totals — never a shuffle join on host."""
    from handprint_spark.operators.html_extract import q_hx_host_budget

    plan = plan_str(q_hx_host_budget(spark, sf_small), "simple")
    assert plan.count("Exchange hashpartitioning") == 3
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_interleave_pack_single_exchange_no_python(spark, sf_small):
    """Sequence packing over the interleaved spans: the running-sum
    window and the per-sequence rollup share hashpartitioning(doc_id)
    — ONE exchange — and selecting only the spans column prunes the
    HPM1 media-encode UDF out of the plan entirely."""
    from handprint_spark.operators.multimodal import q_mm_interleave_pack

    plan = plan_str(q_mm_interleave_pack(spark, sf_small), "simple")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "EvalPython" not in plan


def test_domain_mix_broadcasts_totals(spark, sf_small):
    """Domain mixing: one partial-agg exchange for the per-source
    totals; the 20-row totals and 1-row grand total come back as
    broadcasts — the corpus-side filter never shuffles."""
    from handprint_spark.operators.curation import q_cur_domain_mix

    plan = plan_str(q_cur_domain_mix(spark, sf_small), "simple")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


@pytest.fixture(scope="module")
def spans_table(spark, sf_tiny, tmp_path_factory):
    """sf_tiny as a materialize_spans table."""
    from handprint_spark.corpus import materialize_spans

    return materialize_spans(spark, sf_tiny, str(tmp_path_factory.mktemp("spans")),
                             partitions=4)


def _results(df):
    return sorted((r.doc_id, [tuple(s) for s in r.spans], r.n_media, r.n_errors)
                  for r in df.collect())


def _run_plans(spark, fn):
    """fn's result and the physical plans of the SQL executions it ran,
    read back from the session's SQL status store."""
    bus = spark.sparkContext._jsc.sc().listenerBus()
    store = spark._jsparkSession.sharedState().statusStore()

    def last(n):
        bus.waitUntilEmpty()
        count = store.executionsCount()
        ex = store.executionsList(max(count - n, 0), n)
        return [(ex.apply(i).executionId(), ex.apply(i).physicalPlanDescription())
                for i in range(ex.size())]

    before = max((i for i, _ in last(1)), default=-1)
    out = fn()
    return out, [plan for i, plan in last(8) if i > before]


def test_skew_aware_without_heavy_row_plans_bulk(spark, spans_table):
    """extract_skew_aware is extract_documents: with or without a
    threshold, over a table with heavy docs, no job runs when it is
    called, the plan is one Python stage with no Exchange and no
    aggregate, and the rows are extract_documents'. perfbench reads the
    three keyword defaults, so they are pinned too."""
    params = inspect.signature(extract_skew_aware).parameters
    assert {k: params[k].default for k in ("media_per_chunk", "skew_threshold", "n_media_col")
            } == {"media_per_chunk": 64, "skew_threshold": None, "n_media_col": None}
    table = spark.read.parquet(spans_table)
    plain = _results(extract_documents(table))
    for kwargs in ({}, dict(media_per_chunk=1, skew_threshold=0)):
        df, ran = _run_plans(spark, lambda kw=kwargs: extract_skew_aware(
            table, n_media_col="n_media", **kw))
        assert ran == []
        plan = plan_str(df, "simple")
        assert "Exchange" not in plan
        assert plan.count("MapInArrow") == 1
        assert "HashAggregate" not in plan
        assert _results(df) == plain


def test_hash_score_zero_exchange_jvm_only(spark, sf_small):
    """Hashed-feature linear inference is ONE codegen projection:
    no shuffle, no Python worker — model inference at scan cost."""
    from handprint_spark.operators.text_analysis import q_ta_hash_score

    plan = plan_str(q_ta_hash_score(spark, sf_small), "simple")
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


def test_incremental_probe_is_semi_join_no_cartesian(spark, sf_small):
    """The index probe is an equi-join (semi) on band_key — never a
    cartesian/nested-loop pair blowup, and the existing-corpus side
    appears only as the band posting (no second documents scan joined
    full-width)."""
    from handprint_spark.operators.dedup import q_dd_incremental

    plan = plan_str(q_dd_incremental(spark, sf_small), "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "LeftSemi" in plan


def test_pagerank_round_shape(spark, sf_small):
    """Each PageRank round is join + partial-agg groupBy; rank frames
    are lineage-truncated between rounds, so the FINAL plan contains
    only the last round's join/agg over a checkpointed scan — constant
    plan depth per round (no exponential growth), the CC-loop
    property."""
    from handprint_spark.operators.html_extract import q_hx_pagerank

    plan = plan_str(q_hx_pagerank(spark, sf_small), "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # exactly one rank-update join survives in the final frame's plan
    # (earlier rounds are behind the localCheckpoint scan)
    assert plan.count("SortMergeJoin") + plan.count("BroadcastHashJoin") <= 3
    assert "Scan ExistingRDD" in plan  # the checkpointed prior round


def test_train_split_zero_exchange_jvm_only(spark, sf_small):
    """Split assignment is decided from each row's own bytes — a pure
    projection with no shuffle and no Python at any corpus size."""
    from handprint_spark.operators.curation import q_cur_train_split

    plan = plan_str(q_cur_train_split(spark, sf_small), "simple")
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


def test_anchor_text_two_stage_distinct_partial_agg(spark, sf_small):
    """Anchor extraction is narrow (explode + per-snippet regexps);
    counting with count_distinct(doc_id) takes Spark's two-stage
    distinct shape on the (href, anchor) key — exactly two exchanges
    with a map-side partial below the first, same as hx_outlinks."""
    from handprint_spark.operators.html_extract import q_hx_anchor_text

    plan = plan_str(q_hx_anchor_text(spark, sf_small), "simple")
    assert plan.count("Exchange hashpartitioning") == 2
    assert "EvalPython" not in plan
    assert "partial_count" in plan


def test_bigram_logprob_single_corpus_scan(spark, sf_small):
    """The order-2 LM keeps the single-pass property: the vocab side
    reads the checkpointed bigram counts, so exactly one scan of the
    documents table remains in the final plan (the lookup side)."""
    from handprint_spark.operators.text_analysis import q_ta_bigram_logprob

    plan = plan_str(q_ta_bigram_logprob(spark, sf_small), "simple")
    assert plan.count("documents.parquet") == 1
    assert "EvalPython" not in plan


def test_caption_align_single_exchange_no_python(spark, sf_small):
    """Both ignore-nulls caption windows share hashpartitioning(doc_id)
    — ONE exchange — and selecting only the spans column prunes the
    media-encode UDF from the plan entirely."""
    from handprint_spark.operators.multimodal import q_mm_caption_align

    plan = plan_str(q_mm_caption_align(spark, sf_small), "simple")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "EvalPython" not in plan


def test_paragraph_dedup_no_pair_blowup_jvm_only(spark, sf_small):
    """Keep-first paragraph dedup is ONE equi-join on the md5 key over
    posting rows — no self-join pair table, no quadratic join, no
    Python at any corpus size."""
    from handprint_spark.operators.dedup import q_dd_paragraph_dedup

    plan = plan_str(q_dd_paragraph_dedup(spark, sf_small), "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("SortMergeJoin") + plan.count("BroadcastHashJoin") == 1
    assert "EvalPython" not in plan
    assert "partial_min" in plan  # keeper table folds map-side


def test_fuzzy_contamination_single_probe_join(spark, sf_small):
    """The fuzzy gate probes DISTINCT eval band keys with one left
    equi-join over the shared banding posting (sigs materialized once
    behind the checkpoint scan) — train x eval never forms a pair
    table and nothing crosses into Python."""
    from handprint_spark.operators.dedup import q_dd_fuzzy_contamination

    plan = plan_str(q_dd_fuzzy_contamination(spark, sf_small), "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("SortMergeJoin") + plan.count("BroadcastHashJoin") == 1
    assert "EvalPython" not in plan
    assert "Scan ExistingRDD" in plan  # the checkpointed sig table


def test_minhash_est_shares_one_signature_pass(spark, sf_small):
    """The estimator's three joins (banded pair join + two signature
    lookups) all read the SAME checkpointed signature table — no
    re-derivation of the shingle explode per side, no quadratic join,
    no Python."""
    from handprint_spark.operators.dedup import q_dd_minhash_est

    plan = plan_str(q_dd_minhash_est(spark, sf_small), "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("SortMergeJoin") + plan.count("BroadcastHashJoin") == 3
    assert "EvalPython" not in plan
    assert "Scan ExistingRDD" in plan  # the shared checkpointed sigs
    assert "partial_min" not in plan  # sig derivation happened once, pre-checkpoint


def test_contam_purge_composes_without_new_hazards(spark, sf_small):
    """The purge composition stays within its parts' audited shapes:
    equi-joins only, no quadratic join anywhere in the combined plan."""
    from handprint_spark.operators.curation import q_cur_contam_purge

    plan = plan_str(q_cur_contam_purge(spark, sf_small), "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_tables_zero_shuffle_jvm_only(spark, sf_small):
    """Table-structure recovery is narrow end-to-end: build + two
    posexplodes + per-snippet regexps, no exchange, no Python."""
    from handprint_spark.operators.html_extract import q_hx_tables

    plan = plan_str(q_hx_tables(spark, sf_small), "simple")
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


def test_keep_list_single_corpus_scan(spark, sf_small):
    """The keep-list reads the text column ONCE: both the dup-group
    aggregate and the membership join consume the checkpointed
    single-projection frame, so the final plan contains no parquet
    scan of the documents table at all (only the frame scan)."""
    from handprint_spark.operators.curation import q_cur_keep_list

    plan = plan_str(q_cur_keep_list(spark, sf_small), "simple")
    assert plan.count("documents.parquet") == 0
    assert plan.count("Scan ExistingRDD") >= 1
    assert "EvalPython" not in plan
