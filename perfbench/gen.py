"""Seeded input generator for the perfbench workloads.

One process, numpy + pyarrow, no threads of its own beyond what pyarrow's
parquet writer uses (capped at nproc). Every byte it writes is a function of
the seed and the size arguments, which perfbench/run.py takes from
perfbench/workloads.json; the program under test only ever sees the files
written here.

curate         documents.parquet + blocklist.parquet + truth.json
analytics      lineitem.parquet, orders.parquet, customer.parquet
stream_window  stage/<n>.json event files (moved into the watched directory
               by the benchmark's writer thread on its schedule)
"""

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

pa.set_cpu_count(max(1, min(os.cpu_count() or 1, 4)))
pa.set_io_thread_count(max(1, min(os.cpu_count() or 1, 4)))

# ----------------------------------------------------------------- curate

LANGS = ["en", "es", "de", "ru", "zh"]
LANG_P = [0.6, 0.12, 0.1, 0.1, 0.08]
STOPWORDS = {
    "en": ["the", "of", "and", "to", "in", "is", "that", "for", "it", "with"],
    "es": ["el", "la", "de", "que", "y", "en", "los", "se", "del", "las"],
    "de": ["der", "die", "und", "in", "den", "von", "zu", "das", "mit", "sich"],
    "ru": ["и", "в", "не", "на", "что", "с", "он", "как", "это", "по"],
    "zh": ["的", "是", "在", "了", "和", "有", "我", "不", "这", "人"],
}
SYLLABLES = {
    "en": ["ta", "ble", "scan", "join", "er", "ing", "tion", "ver", "pro", "ces", "sor",
           "da", "ta", "mer", "ge", "win", "dow", "fil", "ter", "part", "key", "row"],
    "es": ["ca", "sa", "mi", "ga", "ra", "ción", "dor", "ten", "mos", "lla", "que", "ro"],
    "de": ["ver", "ung", "keit", "schaf", "ten", "ge", "bau", "lich", "stra", "ße", "wer"],
    "ru": ["про", "ва", "ни", "ко", "ста", "ли", "ен", "ть", "мо", "ра", "до", "ны"],
    "zh": ["数", "据", "管", "道", "引", "擎", "查", "询", "分", "析", "表", "行", "列", "流"],
}
N_SOURCES = 16
URL_MOD = 400  # the recipe's url key is (source, doc_id % 400)


def _vocab(rng, lang, size):
    syl = SYLLABLES[lang]
    out = set()
    while len(out) < size:
        k = int(rng.integers(2, 5))
        out.add("".join(syl[int(i)] for i in rng.integers(0, len(syl), k)))
    return STOPWORDS[lang] + sorted(out)


def _line(rng, vocab, n_words):
    # stopword-heavy head of the vocabulary, Zipf-ish tail
    idx = np.minimum(rng.zipf(1.3, n_words) - 1, len(vocab) - 1)
    return " ".join(vocab[int(i)] for i in idx)


def _para(rng, vocab, lines, words):
    return "\n".join(_line(rng, vocab, words) for _ in range(lines))


def gen_curate(seed, out, n_docs):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_exact = n_clusters = n_docs // 50
    vocabs = {l: _vocab(rng, l, 1500) for l in LANGS}
    src_p = 1.0 / np.arange(1, N_SOURCES + 1) ** 1.1
    src_p /= src_p.sum()
    sources = rng.choice(N_SOURCES, n_docs, p=src_p)
    langs = rng.choice(len(LANGS), n_docs, p=LANG_P)

    # url_dedup keeps the smallest doc_id per (source, doc_id % 400)
    first = {}
    for d in range(n_docs):
        first.setdefault((int(sources[d]), d % URL_MOD), d)
    url_kept = sorted(first.values())

    # blocklist: ~3% of the corpus plus ids that are not in it
    n_block = n_docs * 3 // 100
    blocked = set(int(x) for x in rng.choice(n_docs, n_block, replace=False))
    bad_ids = sorted(blocked | set(range(n_docs + 10, n_docs + 10 + n_block)))

    # planted duplicates come from docs that survive the url and bloom stages
    pool = [d for d in url_kept if d not in blocked]
    rng.shuffle(pool)
    exact_pairs, clusters = [], []
    pos = 0
    for _ in range(n_exact):
        exact_pairs.append(sorted(int(x) for x in pool[pos:pos + 2]))
        pos += 2
    for _ in range(n_clusters):
        k = int(rng.integers(2, 5))
        clusters.append(sorted(int(x) for x in pool[pos:pos + k]))
        pos += k
    planted = {d for g in exact_pairs + clusters for d in g}

    boiler = [_para(rng, vocabs["en"], 2, 12) for _ in range(12)]
    repeat_lines = [_line(rng, vocabs["en"], 6) for _ in range(8)]
    texts = [None] * n_docs
    for d in range(n_docs):
        if d in planted:
            continue
        v = vocabs[LANGS[langs[d]]]
        paras = [_para(rng, v, int(rng.integers(1, 4)), int(rng.integers(10, 26)))
                 for _ in range(int(rng.integers(2, 5)))]
        if rng.random() < 0.2:  # a line repeated inside one paragraph
            rl = repeat_lines[int(rng.integers(0, len(repeat_lines)))]
            paras[0] = "\n".join([paras[0]] + [rl] * int(rng.integers(2, 5)))
        if rng.random() < 0.35:  # shared boilerplate paragraph
            b = boiler[int(rng.integers(0, len(boiler)))]
            paras.insert(0 if rng.random() < 0.5 else len(paras), b)
        texts[d] = "\n\n".join(paras)
    for a, b in exact_pairs:
        v = vocabs[LANGS[langs[a]]]
        texts[a] = texts[b] = "\n\n".join(_para(rng, v, 3, 20) for _ in range(3))
    for members in clusters:
        v = vocabs[LANGS[langs[members[0]]]]
        base = [[_line(rng, v, 25).split(" ") for _ in range(4)] for _ in range(2)]
        used = set()
        for j, d in enumerate(members):
            paras = []
            for p, lines in enumerate(base):
                lines = [list(l) for l in lines]
                if j > 0:  # one word substituted per paragraph, distinct spots
                    while True:
                        li, wi = int(rng.integers(0, 4)), int(rng.integers(0, 25))
                        if (p, li, wi) not in used:
                            used.add((p, li, wi))
                            break
                    lines[li][wi] = "zz%d%d%dq" % (j, p, int(rng.integers(0, 10 ** 6)))
                paras.append("\n".join(" ".join(l) for l in lines))
            texts[d] = "\n\n".join(paras)

    docs = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[i] for i in langs], pa.string()),
        "source": pa.array(["src%d" % s for s in sources], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(docs, os.path.join(out, "documents.parquet"), row_group_size=512)
    pq.write_table(pa.table({"bad_id": pa.array(bad_ids, pa.int64())}),
                   os.path.join(out, "blocklist.parquet"))
    # every doc that reaches near_dedup and is not a planted duplicate must
    # survive; of each planted group exactly one member survives
    must_keep = sorted(d for d in url_kept if d not in blocked and d not in planted)
    truth = {
        "n_docs": n_docs,
        "blocked": sorted(blocked),
        "url_kept": url_kept,
        "must_keep": must_keep,
        "exact_pairs": exact_pairs,
        "near_clusters": clusters,
    }
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump(truth, f)
    return n_docs


# -------------------------------------------------------------- analytics

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
EPOCH_1992 = 8035  # days from 1970-01-01 to 1992-01-01


def gen_analytics(seed, out, sf):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * sf)
    n_ord = int(1_500_000 * sf)
    cust = pa.table({
        "c_custkey": pa.array(np.arange(1, n_cust + 1, dtype=np.int64)),
        "c_name": pa.array(["Customer#%09d" % i for i in range(1, n_cust + 1)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int64)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]),
    })
    # skewed customers: 30% of orders follow a fixed Zipf(1.1) law over the
    # customers, so the largest per-customer window partition has the same
    # expected size under every seed
    zipf_p = 1.0 / np.arange(1, n_cust + 1) ** 1.1
    zipf_p /= zipf_p.sum()
    o_cust = np.where(rng.random(n_ord) < 0.7, rng.integers(1, n_cust + 1, n_ord),
                      rng.choice(n_cust, n_ord, p=zipf_p) + 1).astype(np.int64)
    o_date = EPOCH_1992 + rng.integers(0, 2400, n_ord)
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(1, n_ord + 1, dtype=np.int64)),
        "o_custkey": pa.array(o_cust),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(np.round(rng.uniform(900, 500_000, n_ord), 2)),
        "o_orderdate": pa.array(o_date.astype(np.int32), pa.date32()),
        "o_orderpriority": pa.array(np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                              "5-LOW"])[rng.integers(0, 5, n_ord)]),
    })
    n_lines = rng.integers(1, 8, n_ord)
    n_li = int(n_lines.sum())
    l_order = np.repeat(np.arange(1, n_ord + 1, dtype=np.int64), n_lines)
    starts = np.repeat(np.cumsum(n_lines) - n_lines, n_lines)
    l_line = (np.arange(n_li) - starts + 1).astype(np.int64)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    price = np.round(qty * rng.uniform(900, 2100, n_li), 2)
    li = pa.table({
        "l_orderkey": pa.array(l_order),
        "l_partkey": pa.array(rng.integers(1, int(200_000 * sf) + 2, n_li, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(1, int(10_000 * sf) + 2, n_li, dtype=np.int64)),
        "l_linenumber": pa.array(l_line),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(price),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
        "l_shipdate": pa.array((np.repeat(o_date, n_lines) + rng.integers(1, 122, n_li))
                               .astype(np.int32), pa.date32()),
    })
    pq.write_table(cust, os.path.join(out, "customer.parquet"))
    pq.write_table(orders, os.path.join(out, "orders.parquet"))
    pq.write_table(li, os.path.join(out, "lineitem.parquet"), row_group_size=256 * 1024)
    return n_li


# ----------------------------------------------------------------- stream

STREAM_BASE_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z


def gen_stream(seed, out, n_files, rows_per_file, users=50):
    rng = np.random.default_rng(seed)
    stage = os.path.join(out, "stage")
    os.makedirs(stage, exist_ok=True)
    user_p = 1.0 / np.arange(1, users + 1) ** 0.8
    user_p /= user_p.sum()
    for i in range(n_files):
        # event time advances 2 s per file, with up to 1.5 s of jitter
        ts = STREAM_BASE_MS + i * 2000 + rng.integers(0, 1500, rows_per_file)
        us = rng.choice(users, rows_per_file, p=user_p)
        # v > 0 throughout: the file source counts its input rows after the
        # pipeline's `v > 0` filter is pushed into the JSON scan, and the
        # benchmark maps committed rows back to files
        v = np.round(rng.uniform(0.01, 100, rows_per_file), 2)
        stamps = np.datetime_as_string(ts.astype("datetime64[ms]"), unit="ms")
        lines = ['{"ts":"%sZ","user":"u%d","v":%.2f}' % (t, u, x) for t, u, x in zip(stamps, us, v)]
        with open(os.path.join(stage, "%06d.json" % i), "w") as f:
            f.write("\n".join(lines) + "\n")
    return n_files * rows_per_file

