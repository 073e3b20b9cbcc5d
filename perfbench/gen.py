"""Seeded workload generator for the extraction benchmark.

Writes one workload's input table

    spans(doc_id string, spans array<struct<kind,text,media_ref,offset>>,
          media array<struct<media_ref,content>>, n_media int)

a ground-truth table ``gt(doc_id, gt_text)``, and the expected output
of every document, fixed at generation time:

    expected(doc_id, spans, n_media, n_errors, page_text, gt_text)

An ocr span's expected text is the generated line text; a corrupted
media object becomes whatever the sequential reference path
(``operators.extract.extract_one``) makes of it, pinned once per seed.
``page_text`` is the doc's recognized text (its ocr spans in reading
order) and ``gt_text`` its true text, one line per media object.

Shares and sizes (see README.md for the measurements behind them):

  * corrupt share 1/101 and padded share 1/97 are the reference
    corpus's slices (``handprint_spark/corpus.py`` CORRUPT_MOD, PAD_MOD);
  * the heavy tail carries a fixed set of media counts, one doc per
    input file, so total work and its spread over scan tasks are the
    same for every seed;
  * the format mix is uniform over the accepted input formats.

Inputs depend only on (workload, seed). A table is cached under
``<cache>/<workload>-<seed>``; its ``DONE`` marker holds a fingerprint
of this file and the workload's Spec, and a table whose fingerprint
differs is regenerated. Generation is never timed by the benchmark.
"""

from __future__ import annotations

import hashlib
import itertools
import math
import os
import random
import shutil
import string
from dataclasses import dataclass

SHARDS = 8  # files per input table; fixed so the table depends on the seed only
MEDIA_KINDS = ("line_image", "line_image", "line_image", "page_image", "word_image")
FORMATS = ("png", "jpeg", "tiff", "bmp", "gif", "jp2", "pdf")
MULTIPAGE = ("tiff", "pdf")
CORRUPTIONS = ("truncate", "empty", "garbage", "bitflip", "missing")
ID_STYLES = ("numeric", "prefixed", "path", "hex", "unicode")
CORRUPT_FRAC = 1 / 101  # corpus.py CORRUPT_MOD
PADDED_FRAC = 1 / 97  # corpus.py PAD_MOD
PAD_BYTES = (100_000, 300_000)  # around corpus.py PAD_BYTES = 200_000
TEXT_SPAN_FRAC = 0.7  # media lines with a transcribed text span beside them


@dataclass(frozen=True)
class Spec:
    docs: int
    lines: tuple[int, int]  # media lines per normal doc, inclusive
    heavy: tuple[int, ...] = ()  # media counts of the heavy-tail docs


SPECS = {
    # uniform docs; nothing crosses the skew threshold (256 media)
    "bulk": Spec(docs=2000, lines=(3, 20)),
    # bulk's body, smaller, plus a heavy tail of 3 docs: 1/133 of the docs,
    # denser than corpus.py's 1/211 so the tail, not the body, sets the time
    "skewed": Spec(docs=400, lines=(3, 20), heavy=(300, 600, 900)),
}


def _vocabulary(rng: random.Random, size: int = 3000) -> tuple[list[str], list[float]]:
    words = set()
    while len(words) < size:
        words.add("".join(rng.choice(string.ascii_lowercase) for _ in range(rng.randint(2, 10))))
    words = sorted(words)
    rng.shuffle(words)
    # Zipf weights, accumulated once: rng.choices re-sums plain weights per call
    cum = list(itertools.accumulate(1.0 / (rank + 1) for rank in range(size)))
    return words, cum


def _doc_id(rng: random.Random, i: int) -> str:
    style = rng.choice(ID_STYLES)
    if style == "numeric":
        return str(100_000 + i)
    if style == "prefixed":
        return f"doc-{i:06d}"
    if style == "path":
        return f"{rng.choice(('caltech', 'huntington', 'bodleian'))}/box-{i % 97}/folio-{i}"
    if style == "hex":
        return f"{rng.getrandbits(32):08x}-{i}"
    return f"brouillon-é{i}"


def plan_docs(workload: str, seed: int) -> list[dict]:
    """Every per-doc decision, cheap and single-threaded: line texts,
    span layout, media specs. Counts of corrupt/padded/heavy docs are
    fixed shares, so total work barely moves between seeds."""
    spec = SPECS[workload]
    rng = random.Random(f"{workload}:{seed}")
    words, cum = _vocabulary(rng)

    def phrase(k: int) -> str:
        return " ".join(rng.choices(words, cum_weights=cum, k=k))

    n = spec.docs
    sizes = [rng.randint(*spec.lines) for _ in range(n)]
    # heavy doc j in shard (file) j, so every seed lays the tail out over
    # the scan's tasks alike; only its place inside the file is seeded
    per = math.ceil(n / SHARDS)
    for shard, size in enumerate(spec.heavy):
        sizes[shard * per + rng.randrange(per)] = size
    corrupt = set(rng.sample(range(n), max(1, round(n * CORRUPT_FRAC))))
    padded = set(rng.sample(range(n), max(1, round(n * PADDED_FRAC))))

    docs = []
    for i in range(n):
        doc_id = _doc_id(rng, i)
        spans, media = [], []
        offset = rng.randint(0, 3)
        if rng.random() < 0.2:  # a free-standing heading
            spans.append(("text", phrase(3), "", offset))
            offset += 1 + rng.randint(0, 2)
        for j in range(sizes[i]):
            line = phrase(rng.randint(3, 8))
            if rng.random() < TEXT_SPAN_FRAC:
                spans.append(("text", line, "", offset))
                offset += 1 + rng.randint(0, 2)
            ref = f"{doc_id}/m{j}"
            fmt = rng.choice(FORMATS)
            pages = None
            if fmt in MULTIPAGE and rng.random() < 0.5:
                pages = [line] + [phrase(4) for _ in range(rng.randint(1, 2))]
            media.append({
                "ref": ref, "line": line, "fmt": fmt, "pages": pages,
                "width": min(320, 48 + 8 * len(line) + rng.randint(0, 16)),
                "height": rng.choice((20, 24, 28)),
                "pad_to": rng.randint(*PAD_BYTES) if (i in padded and j == 0) else None,
                "corrupt": rng.choice(CORRUPTIONS) if (i in corrupt and j == 0) else None,
            })
            spans.append((rng.choice(MEDIA_KINDS), "", ref, offset))
            offset += 1 + rng.randint(0, 2)
        docs.append({"doc_id": doc_id, "spans": spans, "media": media,
                     "shuffle": rng.random() < 0.1, "salt": rng.getrandbits(32)})
    return docs


def _encode(m: dict, salt: int) -> bytes | None:
    from handprint_spark.kernels import codec

    data = codec.encode_media(
        m["line"], fmt=m["fmt"], width=m["width"], height=m["height"],
        pages=m["pages"], pad_to=m["pad_to"],
    )
    kind = m["corrupt"]
    if kind is None:
        return data
    if kind == "truncate":
        return data[: max(4, len(data) // 3)]
    if kind == "empty":
        return b""
    if kind == "garbage":
        return random.Random(salt).randbytes(64)
    if kind == "bitflip":
        # flip bytes in the middle of the pixel payload
        header = codec._HEADER.size
        textlen = codec._HEADER.unpack_from(data, 0)[-1]
        start = header + textlen + 4
        mid = start + max(1, (len(data) - start) // 2)
        buf = bytearray(data)
        for k in range(mid, min(len(buf), mid + 8)):
            buf[k] ^= 0x5A
        return bytes(buf)
    return None  # "missing": the span names a media object that is not there


def _shard(args: tuple) -> None:
    """Encode one shard's media, pin its expected outputs, write it."""
    docs, spans_path, expected_path = args
    import pyarrow as pa
    import pyarrow.parquet as pq

    from handprint_spark.operators.extract import extract_one

    rows, expected = [], []
    for d in docs:
        media, exp_by_ref = [], {}
        for m in d["media"]:
            content = _encode(m, d["salt"])
            if m["corrupt"] is None:
                exp_by_ref[m["ref"]] = ("ocr", m["line"])
                media.append({"media_ref": m["ref"], "content": content})
                continue
            span = [{"kind": "line_image", "text": "", "media_ref": m["ref"], "offset": 0}]
            objs = [] if content is None else [{"media_ref": m["ref"], "content": content}]
            _, (pinned,), _, _ = extract_one(d["doc_id"], span, objs, None, None, None)
            exp_by_ref[m["ref"]] = (pinned["kind"], pinned["text"])
            media += objs
        spans = [{"kind": k, "text": t, "media_ref": r, "offset": o} for k, t, r, o in d["spans"]]
        exp_spans = []
        for k, t, r, o in d["spans"]:
            if r:
                k, t = exp_by_ref[r]
            exp_spans.append({"kind": k, "text": t, "media_ref": r, "offset": o})
        if d["shuffle"]:
            random.Random(d["salt"]).shuffle(spans)
            random.Random(d["salt"] + 1).shuffle(media)
        page = "\n".join(s["text"] for s in exp_spans if s["kind"] == "ocr")
        gt = "\n".join(m["line"] for m in d["media"])
        rows.append({"doc_id": d["doc_id"], "spans": spans, "media": media,
                     "n_media": len(d["media"])})
        expected.append({
            "doc_id": d["doc_id"], "spans": exp_spans,
            "n_media": len(d["media"]),
            "n_errors": sum(s["kind"] == "error" for s in exp_spans),
            "page_text": page, "gt_text": gt,
        })
    # sorted by media count within the file: the heavy/normal split of the
    # skew path prunes row groups on it (corpus.materialize_spans does the same)
    rows.sort(key=lambda r: (r["n_media"], r["doc_id"]))
    table = pa.Table.from_pylist(rows, schema=SPANS_SCHEMA)
    pq.write_table(table, spans_path, row_group_size=64)
    pq.write_table(pa.Table.from_pylist(expected, schema=EXPECTED_SCHEMA), expected_path)


def _schemas():
    import pyarrow as pa

    span_type = pa.list_(pa.struct([("kind", pa.string()), ("text", pa.string()),
                                    ("media_ref", pa.string()), ("offset", pa.int32())]))
    spans = pa.schema([
        ("doc_id", pa.string()), ("spans", span_type),
        ("media", pa.list_(pa.struct([("media_ref", pa.string()), ("content", pa.binary())]))),
        ("n_media", pa.int32()),
    ])
    expected = pa.schema([
        ("doc_id", pa.string()), ("spans", span_type),
        ("n_media", pa.int32()), ("n_errors", pa.int32()), ("page_text", pa.string()),
        ("gt_text", pa.string()),
    ])
    return spans, expected


SPANS_SCHEMA, EXPECTED_SCHEMA = _schemas()


def fingerprint(workload: str, seed: int) -> str:
    with open(__file__, "rb") as fh:
        source = fh.read()
    key = f"{workload}|{seed}|{SPECS[workload]!r}|".encode() + source
    return hashlib.sha256(key).hexdigest()


def generate(workload: str, seed: int, cache_dir: str, procs: int) -> str:
    """Return the directory holding (spans/, expected/, gt/) for
    (workload, seed), generating it with ``procs`` worker processes
    when no table with a matching fingerprint is cached."""
    out = os.path.join(cache_dir, f"{workload}-{seed}")
    done = os.path.join(out, "DONE")
    want = fingerprint(workload, seed)
    if os.path.exists(done):
        with open(done) as fh:
            if fh.read().strip() == want:
                return out
    shutil.rmtree(out, ignore_errors=True)
    for sub in ("spans", "expected", "gt"):
        os.makedirs(os.path.join(out, sub))
    docs = plan_docs(workload, seed)
    per = math.ceil(len(docs) / SHARDS)
    jobs = [
        (docs[k * per:(k + 1) * per],
         os.path.join(out, "spans", f"part-{k:02d}.parquet"),
         os.path.join(out, "expected", f"part-{k:02d}.parquet"))
        for k in range(SHARDS)
    ]
    import multiprocessing as mp
    from concurrent.futures import ProcessPoolExecutor

    import pyarrow.parquet as pq

    # an executor, not a Pool: a worker that dies raises here instead of
    # being respawned forever
    with ProcessPoolExecutor(min(procs, SHARDS), mp_context=mp.get_context("spawn")) as ex:
        list(ex.map(_shard, jobs))
    gt = pq.read_table(os.path.join(out, "expected"), columns=["doc_id", "gt_text"])
    pq.write_table(gt, os.path.join(out, "gt", "part-00.parquet"))
    with open(done, "w") as fh:
        fh.write(want + "\n")
    return out
