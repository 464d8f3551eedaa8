"""Seeded input generators for the benchmark.

Every generator takes a seed and writes the same bytes for the same seed.
Besides the inputs, each writes the expected results that the benchmark
checks the engine against, computed here from the generator's own data
with reference semantics, never with the engine.

  corpus   plain text for `mapreduce_text`, plus word tallies and reference
           offsets for a seeded sample of words
  fixture  the ten parquet tables the registry queries read (`region` ...
           `embeddings`), shaped like the engine's test fixtures
  changes  a keyed base table, a list of change batches for
           `VersionedTable`, and the expected table after every commit;
           plus two event batches for `CdcUpsert.mergeBatch` with the
           expected snapshot after both
"""

import hashlib
import json
import os
import re
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

MASK64 = (1 << 64) - 1


def multiset_hash(rows):
    """Order-insensitive hash of canonical row strings: the sum of the
    first 8 bytes (big-endian) of each row's MD5, modulo 2^64, as a
    signed long. RowHash.multiset in the Scala half computes the same."""
    h = 0
    for r in rows:
        h = (h + int.from_bytes(hashlib.md5(r.encode("utf-8")).digest()[:8], "big")) & MASK64
    return h - (1 << 64) if h >= (1 << 63) else h


# --------------------------------------------------------------------- #
# corpus

LETTERS = "abcdefghijklmnopqrstuvwxyz"
PUNCT_AFTER = [",", ".", ";", ":", "!", "?", "\"", ")", "'s"]
PUNCT_BEFORE = ["\"", "(", "'"]
DASHES = ["--", "—", "-", "..."]


def _vocabulary(rng, n):
    """n distinct lowercase pseudo-words; some capitalised, some with a
    digit, all made of [a-zA-Z0-9] so cleaning never changes them."""
    words = set()
    out = []
    while len(out) < n:
        k = int(rng.integers(2, 11))
        w = "".join(LETTERS[i] for i in rng.integers(0, 26, size=k))
        r = rng.random()
        if r < 0.08:
            w = w.capitalize()
        elif r < 0.11:
            w = w + str(int(rng.integers(0, 100)))
        if w not in words:
            words.add(w)
            out.append(w)
    return out


def reference_offsets(lines, wanted):
    """The reference job's inverted index for the words in `wanted`:
    blank lines add 1 to the running offset and are dropped; any other
    line is cleaned to [a-zA-Z0-9 ] and adds its cleaned length; inside a
    line a word's offset advances by len(word)+1 per emitted word, and
    the empty tokens of a run of spaces do not advance it."""
    out = {w: [] for w in wanted}
    offset = 0
    for raw in lines:
        if raw == "":
            offset += 1
            continue
        cleaned = re.sub(r"[^a-zA-Z0-9 ]", "", raw)
        run = 0
        for tok in cleaned.split(" "):
            if tok:
                if tok in out:
                    out[tok].append(offset + run)
                run += len(tok) + 1
        offset += len(cleaned)
    return out


def corpus(seed, out_dir, mb):
    """Write corpus.txt (about `mb` MiB) and corpus_expected.json."""
    rng = np.random.default_rng([seed, 1])
    vocab = _vocabulary(rng, 40000)
    # Zipf(1.1) frequencies over the vocabulary, drawn in bulk
    ranks = np.arange(1, len(vocab) + 1, dtype=np.float64)
    p = ranks ** -1.1
    p /= p.sum()
    target = int(mb * 1024 * 1024)
    counts = Counter()
    lines = []
    size = 0
    while size < target:
        ids = rng.choice(len(vocab), size=200000, p=p)
        knobs = rng.random(size=(len(ids), 3))
        i = 0
        while i < len(ids) and size < target:
            r = rng.random()
            if r < 0.08:
                lines.append("")  # blank line: offset +1, no record
                size += 1
                continue
            if r < 0.09:
                line = " ".join(DASHES[int(x * 4) % 4] for x in rng.random(3))
                lines.append(line)  # cleans to spaces only
                size += len(line.encode("utf-8")) + 1
                continue
            n = int(rng.integers(4, 16))
            parts = []
            for j in range(n):
                if i >= len(ids):
                    break
                w = vocab[ids[i]]
                a, b, c = knobs[i]
                i += 1
                counts[w] += 1
                tok = w
                if a < 0.12:
                    tok = tok + PUNCT_AFTER[int(b * len(PUNCT_AFTER))]
                    if tok.endswith("'s"):
                        counts[w] -= 1
                        counts[w + "s"] += 1
                elif a < 0.15:
                    tok = PUNCT_BEFORE[int(b * len(PUNCT_BEFORE))] + tok
                parts.append(tok)
                if c < 0.04:
                    # a run of 2+ spaces once cleaned: the offset drift case
                    parts.append("  " if c < 0.02 else f" {DASHES[int(c * 100) % 4]} ")
                elif j < n - 1:
                    parts.append(" ")
            line = "".join(parts)
            if knobs[max(i - 1, 0)][2] > 0.97:
                line = "  " + line + " "
            lines.append(line)
            size += len(line.encode("utf-8")) + 1
    text = "\n".join(lines) + "\n"
    with open(os.path.join(out_dir, "corpus.txt"), "w", encoding="utf-8") as f:
        f.write(text)
    counts = {w: c for w, c in counts.items() if c > 0}
    words = sorted(counts)
    pick = rng.choice(len(words), size=min(24, len(words)), replace=False)
    sample = sorted(words[int(k)] for k in pick)
    expected = {
        "bytes": len(text.encode("utf-8")),
        "lines": len(lines),
        "total_tokens": sum(counts.values()),
        "distinct_words": len(counts),
        "counts_hash": multiset_hash(f"{w}|{c}" for w, c in counts.items()),
        "top": sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:20],
        "sample_offsets": reference_offsets(lines, set(sample)),
    }
    with open(os.path.join(out_dir, "corpus_expected.json"), "w") as f:
        json.dump(expected, f, sort_keys=True)
    return expected


# --------------------------------------------------------------------- #
# fixture tables

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DOC_WORDS = ("join hash row batch scan column customer filter small slow merge "
             "order vector line table data agg value key stream window a "
             "spark part group big sort query fast the").split()
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
EPOCH_1995 = np.datetime64("1995-01-01", "us")
EPOCH_2024 = np.datetime64("2024-01-01", "us")


def _cents(rng, lo, hi, n):
    """Two-decimal doubles in [lo, hi], exact in decimal like the
    fixtures' money columns."""
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, size=n) / 100.0, 2)


def _write(tables, out_dir):
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def fixture(seed, out_dir, scale):
    """Write the ten fixture tables at `scale` (1.0 = the engine's sf0.01
    row counts: 15,000 orders, 60,000 line items, 10,000 events)."""
    rng = np.random.default_rng([seed, 2])
    n_cust = max(30, int(1500 * scale))
    n_supp = max(10, int(100 * scale))
    n_part = max(40, int(2000 * scale))
    n_ord = max(150, int(15000 * scale))
    n_line = 4 * n_ord
    n_ev = max(200, int(10000 * scale))
    n_users = max(20, int(150 * scale))
    t = {}
    t["region"] = {"r_regionkey": pa.array(range(5), pa.int32()),
                   "r_name": pa.array(REGIONS)}
    t["nation"] = {"n_nationkey": pa.array(range(25), pa.int32()),
                   "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                   "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}
    t["supplier"] = {
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(_cents(rng, -999.99, 9999.99, n_supp))}
    t["customer"] = {
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(_cents(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array([SEGMENTS[i] for i in rng.integers(0, 5, n_cust)])}
    t["part"] = {
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                            zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
        "p_type": pa.array([PART_TYPES[i] for i in rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2))}
    odays = rng.integers(0, 2404, n_ord)
    t["orders"] = {
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array([("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(_cents(rng, 1000.0, 500000.0, n_ord)),
        "o_orderdate": pa.array(EPOCH_1995 + odays.astype("timedelta64[D]"),
                                pa.timestamp("us")),
        "o_orderpriority": pa.array([PRIORITIES[i] for i in rng.integers(0, 5, n_ord)])}
    lorder = rng.integers(0, n_ord, n_line)
    lorder.sort()
    linenum = np.ones(n_line, dtype=np.int32)
    for i in range(1, n_line):
        if lorder[i] == lorder[i - 1]:
            linenum[i] = linenum[i - 1] + 1
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = {
        "l_orderkey": pa.array(lorder, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(linenum, pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(_cents(rng, 900.0, 105000.0, n_line)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array([("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)]),
        "l_linestatus": pa.array([("F", "O")[i] for i in rng.integers(0, 2, n_line)]),
        "l_shipdate": pa.array(EPOCH_1995 + (odays[lorder] + rng.integers(1, 122, n_line))
                               .astype("timedelta64[D]"), pa.timestamp("us"))}
    # events: strictly increasing timestamps over 30 days
    gaps = rng.exponential(1.0, n_ev)
    us = np.cumsum(gaps) / gaps.sum() * (30 * 86400e6 - 1e6) + 1e6
    t["events"] = {
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": pa.array(EPOCH_2024 + us.astype(np.int64).astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": pa.array([EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)]),
        "value": pa.array(np.round(rng.exponential(40.0, n_ev) + 0.01, 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])}
    # documents: 500 texts over a 30-word vocabulary; 5% are near-copies
    # of an earlier document with a trailing "dup" marker
    texts = []
    for i in range(500):
        if i > 10 and rng.random() < 0.05:
            src = texts[int(rng.integers(0, i))]
            texts.append(src + " dup")
        else:
            n = int(rng.integers(8, 90))
            texts.append(" ".join(DOC_WORDS[k] for k in rng.integers(0, len(DOC_WORDS), n)))
    t["documents"] = {
        "doc_id": pa.array(range(500), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[i] for i in rng.integers(0, len(LANGS), 500)]),
        "source": pa.array([f"src{i % 20}" for i in range(500)]),
        "n_chars": pa.array([len(x) for x in texts], pa.int64())}
    # embeddings: 500 unit vectors around 10 label centres
    centres = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, 500)
    vecs = centres[labels] + rng.normal(scale=1.5, size=(500, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = {
        "vec_id": pa.array(range(500), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())}
    _write(t, out_dir)
    return {name: len(next(iter(cols.values()))) for name, cols in t.items()}


# --------------------------------------------------------------------- #
# change batches for the write path

def _acct_row(k, grp, cents, name):
    return f"{k}|{grp}|{cents}|{name}"


def changes(seed, out_dir, scale):
    """A keyed table `acct(id, grp, cents, name)` and a sequence of change
    batches, each with the expected table after it is committed.

    Batch kinds: append (fresh ids), merge (upserts, 2/3 existing ids with
    a changed `cents`, 1/3 fresh), and dv_delete (an id range).
    """
    rng = np.random.default_rng([seed, 3])
    n_base = max(500, int(20000 * scale))
    n_batch = max(50, int(2000 * scale))
    table = {}
    next_id = 0

    def fresh(n):
        nonlocal next_id
        ids = list(range(next_id, next_id + n))
        next_id += n
        return ids

    def mk(ids):
        return [(k, int(rng.integers(0, 16)), int(rng.integers(0, 10 ** 7)),
                 f"n{int(rng.integers(0, 10 ** 6)):06d}") for k in ids]

    def write_rows(rows, name):
        cols = {"id": pa.array([r[0] for r in rows], pa.int64()),
                "grp": pa.array([r[1] for r in rows], pa.int32()),
                "cents": pa.array([r[2] for r in rows], pa.int64()),
                "name": pa.array([r[3] for r in rows])}
        pq.write_table(pa.table(cols), os.path.join(out_dir, name))

    def state():
        return {"rows": len(table),
                "hash": multiset_hash(_acct_row(*r) for r in table.values())}

    base = mk(fresh(n_base))
    for r in base:
        table[r[0]] = r
    write_rows(base, "acct_base.parquet")
    steps = [{"kind": "init", "file": "acct_base.parquet", "expect": state()}]
    kinds = ["append", "merge", "dv_delete"]
    for b, kind in enumerate(kinds):
        step = {"kind": kind}
        if kind == "append":
            rows = mk(fresh(n_batch))
            for r in rows:
                table[r[0]] = r
            step["file"] = f"acct_b{b}.parquet"
            write_rows(rows, step["file"])
        elif kind == "merge":
            live = sorted(table)
            old = [live[int(i)] for i in
                   rng.choice(len(live), size=2 * n_batch // 3, replace=False)]
            rows = []
            for k in old:
                g, c, nm = table[k][1:]
                rows.append((k, g, (c + 1 + int(rng.integers(0, 1000))) % 10 ** 7, nm))
            rows += mk(fresh(n_batch - len(old)))
            step["cdc_removed"] = len(old)
            step["cdc_added"] = len(rows)
            for r in rows:
                table[r[0]] = r
            step["file"] = f"acct_b{b}.parquet"
            write_rows(rows, step["file"])
        else:
            lo = int(rng.integers(0, max(1, next_id - n_batch)))
            hi = lo + n_batch // 2
            gone = [k for k in table if lo <= k < hi]
            for k in gone:
                del table[k]
            step["lo"], step["hi"] = lo, hi
        step["expect"] = state()
        steps.append(step)

    # CdcUpsert input: two event batches whose events interleave in time,
    # so the second merge keeps some of the first batch's rows and
    # replaces others; the expected snapshot after both is each user's
    # latest (ts, event_id) event
    n_ev = max(200, int(4000 * scale))
    users = rng.integers(0, max(20, int(300 * scale)), n_ev)
    us = np.sort(rng.integers(0, 30 * 86400 * 10 ** 6, n_ev))
    types = rng.integers(0, 5, n_ev)
    values = np.round(rng.integers(1, 50000, n_ev) / 100.0, 2)
    in_second = rng.random(n_ev) < 0.5
    cdc_files = []
    for b, sel in enumerate([~in_second, in_second]):
        idx = np.flatnonzero(sel)
        cols = {"event_id": pa.array(idx, pa.int64()),
                "ts": pa.array(EPOCH_2024 + us[idx].astype("timedelta64[us]"), pa.timestamp("us")),
                "user_id": pa.array(users[idx], pa.int64()),
                "event_type": pa.array([EVENT_TYPES[i] for i in types[idx]]),
                "value": pa.array(values[idx])}
        cdc_files.append(f"cdc_b{b}.parquet")
        pq.write_table(pa.table(cols), os.path.join(out_dir, cdc_files[-1]))
    latest = {int(u): e for e, u in enumerate(users)}  # events are in (ts, event_id) order
    cdc_expect = {"rows": len(latest),
                  "hash": multiset_hash(f"{u}|{e}" for u, e in latest.items())}
    spec = {"steps": steps, "cdc_files": cdc_files, "cdc_expect": cdc_expect}
    with open(os.path.join(out_dir, "changes.json"), "w") as f:
        json.dump(spec, f, sort_keys=True)
    return {"acct_base": n_base, "batches": len(kinds), "batch_rows": n_batch,
            "cdc_events": n_ev}

