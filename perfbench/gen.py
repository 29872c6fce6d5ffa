"""Seeded input generation for the graft benchmark.

Every input a workload reads is made here from the run's seed, inside the
run's own directory: the testdata-shaped tables the probes read, backup
zips and archive remotes for the loader, a corpus for curation, and state
plus batches for the increment batches a traced curate run adds. The same
seed gives byte-identical files (`digest` checks that), so two runs of one
seed time the same work.
"""
import hashlib
import io
import os
import zipfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The testdata vocabulary: documents are bags of these words, so the
# funnel's marker-based language gate sees the alpha/beta/gamma profiles.
WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
# Corpus docs for curation mix those words with a fixed 2,000-word
# vocabulary, so unrelated docs share few shingles and every near-duplicate
# cluster the funnel finds is one the generator planted.
VOCAB = sorted(a + b + c + d for a in "bdfgklmnprstvz" for b in "aeiou"
               for c in "bdfgklmnprstvz" for d in "aeiou")[::2][:2000]
LANGS = ["en", "fr", "zh", "de", "es"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING"]
PART_ADJ = ["large", "hot", "blue", "old", "cold", "red"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil"]
PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "PROMO", "SMALL", "MEDIUM"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
DAY_US = 86_400 * 1_000_000
# 1995-01-01 and 2024-01-01 as microseconds since the epoch
ORDERS_T0 = 788_918_400 * 1_000_000
EVENTS_T0 = 1_704_067_200 * 1_000_000

# Relational probes of the loader workload (q10 does not exist).
RELATIONAL = ["q%02d" % i for i in range(1, 27) if i != 10] + ["q67"]
# One probe per operator that neither op runs, with that operator's module:
# q30 all-pairs cosine near-dup, q142 Unigram sampling encode, q149
# NN-Descent kNN graph.
EXT_PROBES = {"q30": "operators.Similarity", "q142": "operators.Unigram",
              "q149": "operators.KnnGraph"}

# Input sizes per workload. `scale` sizes the testdata-shaped tables
# relative to sf1 (sf0.1 has 150,000 orders).
SIZES = {
    "loader": {"scale": 0.01, "instances": 4, "backups": 3,
               "member_rows": 2000, "remotes": 2, "remote_keys": 10000,
               "remote_share": 0.6},
    "curate": {"scale": 0.001, "docs": 1200, "exact_dup": 0.1,
               "near_dup": 0.1, "low_quality": 0.1, "contaminated": 10,
               "benchmark_docs": 20, "merges": 200, "seq_len": 256,
               "num_shards": 4, "state_docs": 400, "batch_docs": 250,
               "batches": 2},
}


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def _text(rng, lo, hi):
    n = int(rng.integers(lo, hi + 1))
    return " ".join(WORDS[j] for j in rng.integers(0, len(WORDS), n))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(rng, scale, out):
    """The ten testdata tables at `scale` × sf1, same schemas and value
    domains as the repo's testdata (TESTDATA.md)."""
    n_cust = max(50, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(50, int(200_000 * scale))
    n_ord = max(100, int(1_500_000 * scale))
    n_li = 4 * n_ord
    n_ev = max(200, int(1_000_000 * scale))
    n_users = max(20, int(15_000 * scale))
    n_docs = max(100, int(50_000 * scale))
    n_emb = max(100, int(20_000 * scale))
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": ["NATION_%d" % i for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(n_cust), i64),
        "c_name": ["Customer#%09d" % i for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust), f64),
        "c_mktsegment": [SEGMENTS[j] for j in rng.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_supp), i64),
        "s_name": ["Supplier#%09d" % i for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp), f64)})
    t["part"] = pa.table({
        "p_partkey": pa.array(range(n_part), i64),
        "p_name": ["%s %s" % (PART_ADJ[a], PART_NOUN[b]) for a, b in zip(
            rng.integers(0, len(PART_ADJ), n_part),
            rng.integers(0, len(PART_NOUN), n_part))],
        "p_brand": ["Brand#%d" % j for j in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[j] for j in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(
            np.round(900 + (np.arange(n_part) % 1000) / 10, 1), f64)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": [["F", "O", "P"][j] for j in rng.integers(0, 3, n_ord)],
        "o_totalprice": pa.array(_money(rng, 1000, 500_000, n_ord), f64),
        "o_orderdate": pa.array(
            ORDERS_T0 + rng.integers(0, 2404, n_ord) * DAY_US, ts),
        "o_orderpriority": [PRIORITIES[j] for j in rng.integers(0, 5, n_ord)]})
    qty = rng.integers(1, 51, n_li).astype(float)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": pa.array(qty, f64),
        "l_extendedprice": pa.array(
            np.round(qty * rng.uniform(900, 2100, n_li), 2), f64),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100, f64),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100, f64),
        "l_returnflag": [["A", "N", "R"][j] for j in rng.integers(0, 3, n_li)],
        "l_linestatus": [["O", "F"][j] for j in rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(
            ORDERS_T0 + rng.integers(1, 2500, n_li) * DAY_US, ts)})
    t["events"] = pa.table({
        "event_id": pa.array(range(n_ev), i64),
        "ts": pa.array(np.sort(EVENTS_T0 + rng.integers(
            0, 30 * DAY_US, n_ev)), ts),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
        "event_type": [EVENT_TYPES[j] for j in rng.integers(0, 5, n_ev)],
        "value": pa.array(_money(rng, 0, 560, n_ev), f64),
        "props": ['{"k": %d}' % j for j in rng.integers(0, 100, n_ev)]})
    texts = [_text(rng, 10, 100) for _ in range(n_docs)]
    t["documents"] = pa.table({
        "doc_id": pa.array(range(n_docs), i64), "text": texts,
        "lang": [LANGS[j] for j in rng.integers(0, 5, n_docs)],
        "source": ["src%d" % j for j in rng.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(x) for x in texts], i64)})
    vec = rng.normal(size=(n_emb, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_emb), i64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), i32)})
    for name, tab in t.items():
        _write(tab, os.path.join(out, "tables", name + ".parquet"))
    return t


def _reformat(text):
    """A near duplicate the content hash misses but whose normalized words
    are the original's: a capital first letter and a closing period. Its
    shingle set equals the original's, so MinHash banding always pairs
    them."""
    return text[:1].upper() + text[1:] + "."


def _edit(rng, text):
    """A near duplicate: one word replaced."""
    w = text.split(" ")
    w[int(rng.integers(0, len(w)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
    return " ".join(w)


def _good(rng):
    """A document that passes the quality and language gates: a quarter of
    its words from the testdata vocabulary (markers and stopwords), the
    rest from the large one."""
    n = int(rng.integers(60, 121))
    own = rng.random(n) < 0.25
    return " ".join(WORDS[int(rng.integers(0, len(WORDS)))] if o
                    else VOCAB[int(rng.integers(0, len(VOCAB)))] for o in own)


def loader(rng, sz, t, out):
    inst = sorted({"OC%s_%s%d_%s" % (
        chr(65 + int(rng.integers(0, 26))),
        "".join(chr(65 + int(c)) for c in rng.integers(0, 26, 2)),
        int(rng.integers(1, 10)),
        "".join(chr(65 + int(c)) for c in rng.integers(0, 26, 3)))
        for _ in range(sz["instances"] * 3)})[:sz["instances"]]
    days = ["Mon", "Tue", "Wed", "Thu", "Fri"][:sz["backups"]]
    corrupt = inst[int(rng.integers(0, len(inst)))]
    bdir = os.path.join(out, "backups")
    os.makedirs(bdir)
    expected = {"ls": [], "restore": [], "published": []}
    for k, name in enumerate(inst):
        src = t["orders"] if k % 2 == 0 else t["lineitem"]
        for d, day in enumerate(days):
            idx = np.sort(rng.choice(src.num_rows, sz["member_rows"],
                                     replace=False))
            buf = io.BytesIO()
            pq.write_table(src.take(idx), buf, compression="snappy")
            stamp = "202401%02d" % (d + 1)
            member = "%s-%s-120000-UF.parquet" % (name, stamp)
            zbuf = io.BytesIO()
            with zipfile.ZipFile(zbuf, "w") as z:
                info = zipfile.ZipInfo(member, (2024, 1, d + 1, 12, 0, 0))
                z.writestr(info, buf.getvalue())
            data = zbuf.getvalue()
            newest = d == len(days) - 1
            if newest and name == corrupt:
                data = data[:len(data) // 2]  # no end-of-central-directory
            path = os.path.join(bdir, "%s-%s.zip" % (name, day))
            with open(path, "wb") as f:
                f.write(data)
            mtime = EVENTS_T0 // 1_000_000 + d * 86_400
            os.utime(path, (mtime, mtime))
        db = lambda d: "%s_202401%02d_1200" % (name, d + 1)
        last = len(days) - 1
        expected["ls"].append("%s-%s.zip" % (name, days[last]))
        if name == corrupt:
            expected["restore"].append("%s: %s-%s.zip -> - [invalid]"
                                       % (name, name, days[last]))
            last -= 1
        expected["restore"].append("%s: %s-%s.zip -> %s [restored]"
                                   % (name, name, days[last], db(last)))
        expected["published"].append(db(last))
        # yesterday's warehouse holds the oldest backup of every instance
        _write(src.slice(0, 100), os.path.join(
            out, "warehouse", db(0), "part-00000.parquet"))
    for junk in ["tmp_restore_leftover", "broken-copy"]:
        _write(t["region"], os.path.join(out, "warehouse", junk,
                                         "part-00000.parquet"))
    expected["clean"] = "2 databases have been deleted"
    # archive remotes: overlapping subsets of one pool of operation rows
    n = sz["remote_keys"]
    ev = t["events"]
    pool = pa.table({
        "instance": [inst[j] for j in rng.integers(0, len(inst), n)],
        "kind": ev["event_type"].take(np.arange(n) % ev.num_rows),
        "time": ev["ts"].take(np.arange(n) % ev.num_rows),
        "remote_id": pa.array(range(n), pa.int32()),
        "data": ev["props"].take(np.arange(n) % ev.num_rows)})
    counts = pa.table({
        "instance": pool["instance"], "kind": pool["kind"],
        "time": pool["time"],
        "count": pa.array(rng.integers(1, 100, n), pa.int32()),
        "remote_id": pool["remote_id"]})
    seen = set()
    remotes = []
    for r in range(sz["remotes"]):
        keep = np.sort(np.flatnonzero(rng.random(n) < sz["remote_share"]))
        seen.update(keep.tolist())
        rdir = "remote_%d" % r
        _write(pool.take(keep), os.path.join(out, rdir, "events.parquet"))
        _write(counts.take(keep), os.path.join(out, rdir, "counts.parquet"))
        remotes.append(rdir)
    keys = {(pool["instance"][int(j)].as_py(), int(j)) for j in seen}
    expected["archive"] = ["appended %d new rows to _archive/events" % len(keys),
                           "appended %d new rows to _archive/counts" % len(keys)]
    expected["archive_rerun"] = ["appended 0 new rows to _archive/events",
                                 "appended 0 new rows to _archive/counts"]
    with open(os.path.join(out, "ufload.ini"), "w"):
        pass
    return {"remotes": ",".join(remotes), "probes": ",".join(RELATIONAL),
            "ext_probes": ",".join("%s=%s" % kv for kv in EXT_PROBES.items())
            }, expected


def _bpe_merges(words, n_merges):
    """Byte-level BPE merges learned on the pretokens `' ' + word`, in the
    engine's hex-symbol form."""
    vocab = {tuple("%02x" % b for b in (" " + w).encode()): c
             for w, c in words.items()}
    merges = []
    while len(merges) < n_merges:
        pairs = {}
        for syms, c in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] = pairs.get((a, b), 0) + c
        if not pairs:
            break
        best = max(sorted(pairs), key=lambda p: pairs[p])
        merges.append(best)
        nv = {}
        for syms, c in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and (syms[i], syms[i + 1]) == best:
                    out.append(syms[i] + syms[i + 1])
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            nv[tuple(out)] = nv.get(tuple(out), 0) + c
        vocab = nv
    return merges


def curate(rng, sz, out):
    n = sz["docs"]
    texts = [_good(rng) for _ in range(n)]
    bench = [_text(rng, 30, 40) for _ in range(sz["benchmark_docs"])]
    order = rng.permutation(n)
    k_ex = int(n * sz["exact_dup"])
    k_near = int(n * sz["near_dup"])
    k_low = int(n * sz["low_quality"])
    k_con = sz["contaminated"]
    marks = np.split(order, np.cumsum([k_ex, k_near, k_low, k_con]))
    # every duplicate copies its own original: clusters are pairs, so the
    # funnel's work does not depend on how the seed happened to chain them
    originals = rng.choice(marks[4], k_ex + k_near, replace=False)
    for j, o in zip(marks[0], originals[:k_ex]):
        texts[j] = texts[int(o)]
    for j, o in zip(marks[1], originals[k_ex:]):
        texts[j] = _reformat(texts[int(o)])
    # junk: a few words, none a stopword, between runs of punctuation, so
    # its quality score stays below the gate's threshold
    for j in marks[2]:
        texts[j] = "!!! %s ???" % " ".join(
            VOCAB[int(k)] for k in rng.integers(0, len(VOCAB), 4))
    for j in marks[3]:
        texts[j] = texts[j] + " " + bench[int(rng.integers(0, len(bench)))]
    _write(pa.table({"doc_id": pa.array(range(n), pa.int64()),
                     "text": texts}),
           os.path.join(out, "corpus", "part-00000.parquet"))
    _write(pa.table({"text": bench}),
           os.path.join(out, "benchmark", "part-00000.parquet"))
    freq = {}
    for x in texts:
        for w in x.split(" "):
            freq[w] = freq.get(w, 0) + 1
    merges = _bpe_merges(freq, sz["merges"])
    _write(pa.table({"rank": pa.array(range(len(merges)), pa.int32()),
                     "a": [a for a, _ in merges],
                     "b": [b for _, b in merges]}),
           os.path.join(out, "merges", "part-00000.parquet"))
    conf, expected = increment(rng, sz, out)
    conf.update(seq_len=str(sz["seq_len"]), num_shards=str(sz["num_shards"]))
    expected["docs"] = n
    # rows surviving each stage: junk fails the quality gate, each exact
    # and each near duplicate collapses into its own original, and every
    # contaminated doc is dropped
    exact = n - k_ex - k_low
    expected["stages"] = {"exact_dedup": exact, "near_dup": exact - k_near,
                          "decontaminated": exact - k_near - k_con}
    return conf, expected


def increment(rng, sz, out):
    """Seed state, and batches of about half fresh docs, a quarter exact
    replays of state and a quarter near replays."""
    state = [_good(rng) for _ in range(sz["state_docs"])]
    _write(pa.table({"doc_id": pa.array(range(len(state)), pa.int64()),
                     "text": state}),
           os.path.join(out, "state_docs", "part-00000.parquet"))
    b = sz["batch_docs"]
    names = []
    next_id = len(state)
    for k in range(sz["batches"]):
        texts = [_good(rng) for _ in range(b // 2)]
        replay = rng.choice(len(state), b - len(texts), replace=False)
        texts += [state[int(j)] for j in replay[:b // 4]]
        texts += [_edit(rng, state[int(j)]) for j in replay[b // 4:]]
        perm = rng.permutation(len(texts))
        names.append("batch_%d" % k)
        _write(pa.table({
            "doc_id": pa.array(range(next_id, next_id + b), pa.int64()),
            "text": [texts[int(j)] for j in perm]}),
            os.path.join(out, names[-1], "part-00000.parquet"))
        next_id += b
    return {"batches": ",".join(names)}, {"batch_docs": b}


def generate(workload, seed, out):
    """Writes `workload`'s inputs for `seed` under `out`; returns the
    manifest entries for the harness and the expected outputs."""
    sz = SIZES[workload]
    rng = np.random.default_rng([seed, sorted(SIZES).index(workload)])
    t = tables(rng, sz["scale"], out)
    if workload == "loader":
        conf, expected = loader(rng, sz, t, out)
    else:
        conf, expected = curate(rng, sz, out)
    return conf, expected


def digest(root):
    """SHA-256 over every generated file's relative path and bytes."""
    h = hashlib.sha256()
    for d, dirs, files in sorted(os.walk(root)):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()
