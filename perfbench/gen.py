"""Seeded input generators for the benchmark.

Each part's inputs, and the answers its checks compare against, are a
pure function of (seed, sizes). The generator never calls graft, so the
expected answers are computed independently of the code under test.
Inputs are cached in <root>/<part>-seed<seed>/ and regenerated when the
sizes change.
"""
import datetime
import json
import shutil
from collections import defaultdict
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SIZES = {
    "corral_mr": {"lines": 40000, "words_per_line": [8, 16], "vocab": 30000,
                  "rankings": 30000, "visits": 80000, "text_parts": 8},
    "daily_dedup": {"day0_docs": 1500, "days": 1, "inc_docs": 150, "doc_tokens": 60,
                    "chain_shift": 4, "long_chain": 11, "chains": 70, "clusters": 80},
    "ann_search": {"vectors": 4000, "dim": 64, "clusters": 16, "clustered_share": 0.5,
                   "cluster_noise": 0.35, "batches": 1, "queries_per_batch": 32, "k": 10},
}
QUERY_ID0 = 1_000_000_000


def dir_for(root, part, seed):
    return Path(root) / f"{part}-seed{seed}"


def ensure(part, seed, d):
    """Generate part's inputs into d unless an up-to-date copy is there."""
    d = Path(d)
    done = d / "_DONE"
    if done.exists() and json.loads(done.read_text()) == SIZES[part]:
        return
    shutil.rmtree(d, ignore_errors=True)
    d.mkdir(parents=True)
    rng = np.random.default_rng([seed, list(SIZES).index(part)])
    props = {"corral_mr": corral, "daily_dedup": dedup, "ann_search": ann}[part](
        rng, d, SIZES[part])
    (d / "props.json").write_text(json.dumps(props, sort_keys=True))
    done.write_text(json.dumps(SIZES[part]))


def write_lines(p, lines):
    p.parent.mkdir(parents=True, exist_ok=True)
    text = "".join(line + "\n" for line in lines)
    p.write_text(text)
    return len(text.encode())


def vocabulary(rng, n):
    """n distinct random lowercase words of 3-10 letters."""
    seen = {}
    while len(seen) < n:
        lens = rng.integers(3, 11, n)
        letters = rng.integers(0, 26, lens.sum()).astype(np.uint8) + ord("a")
        flat = letters.tobytes().decode()
        pos = 0
        for ln in lens:
            seen.setdefault(flat[pos:pos + ln], None)
            pos += ln
    return list(seen)[:n]


# -- corral_mr ---------------------------------------------------------------

def corral(rng, d, s):
    """Text corpus (Zipf words, some capitalised or punctuated), AMPLab
    rankings and uservisits CSV, and the four jobs' expected outputs: word
    counts; pages with rank > 50; revenue summed per 8-char source IP
    prefix; per source IP the mean rank and revenue of its visits before
    2000-01-01, joined to their page."""
    words = vocabulary(rng, s["vocab"])
    p = 1.0 / np.arange(1, s["vocab"] + 1) ** 1.05
    lo, hi = s["words_per_line"]
    per_line = rng.integers(lo, hi + 1, s["lines"])
    idx = rng.choice(s["vocab"], size=per_line.sum(), p=p / p.sum())
    cap = rng.random(idx.size) < 0.1
    punct = rng.integers(0, 20, idx.size)
    tokens = [w.capitalize() if c else w for w, c in zip((words[i] for i in idx), cap)]
    tokens = [t + ("," if q == 0 else "." if q == 1 else "") for t, q in zip(tokens, punct)]
    ends = np.cumsum(per_line)
    lines = [" ".join(tokens[a:b]) for a, b in zip(np.r_[0, ends[:-1]], ends)]
    parts = np.array_split(np.arange(len(lines)), s["text_parts"])
    text_bytes = sum(write_lines(d / "corpus" / f"part-{i:05d}.txt", (lines[j] for j in part))
                     for i, part in enumerate(parts))
    counts = np.bincount(idx, minlength=s["vocab"])
    write_lines(d / "expected" / "wordcount.tsv",
                (f"{words[i]}\t{counts[i]}" for i in np.flatnonzero(counts)))

    n_rank = s["rankings"]
    ranks = rng.integers(1, 101, n_rank)
    durations = rng.integers(1, 61, n_rank)
    urls = [f"url{i}.example.com/p{i % 97}" for i in range(n_rank)]
    rank_bytes = write_lines(d / "rankings" / "part-00000.csv",
                             (f"{u},{r},{t}" for u, r, t in zip(urls, ranks, durations)))
    write_lines(d / "expected" / "amplab1.tsv",
                (f"{urls[i]}\t{ranks[i]}" for i in np.flatnonzero(ranks > 50)))

    n = s["visits"]
    octets = [rng.integers(10, 30, n), rng.integers(0, 40, n), rng.integers(0, 30, n),
              rng.integers(0, 20, n)]
    ips = [f"{a}.{b}.{c}.{e}" for a, b, c, e in zip(*octets)]
    pages = np.minimum((np.abs(rng.standard_normal(n)) * n_rank / 3).astype(int), n_rank - 1)
    day = rng.integers(0, 11 * 365, n)
    dates = (np.datetime64("1995-01-01") + day).astype(str)
    cents = rng.integers(0, 100000, n)
    revs = [f"{c // 100}.{c % 100:02d}" for c in cents]
    extra = [rng.integers(0, k, n) for k in (50, 90, 40, 5000)]
    dur = rng.integers(1, 301, n)
    visit_bytes = write_lines(d / "uservisits" / "part-00000.csv", (
        f"{ip},{urls[pg]},{dt},{rv},agent{a},c{b},l{c},w{e},{du}"
        for ip, pg, dt, rv, a, b, c, e, du in zip(ips, pages, dates, revs, *extra, dur)))
    prefix_sum = defaultdict(float)
    per_ip = defaultdict(lambda: [0, 0.0, 0])
    cutoff = (datetime.date(2000, 1, 1) - datetime.date(1995, 1, 1)).days
    for ip, pg, dy, rv in zip(ips, pages, day, revs):
        prefix_sum[ip[:8]] += float(rv)
        if dy < cutoff:
            agg = per_ip[ip]
            agg[0] += int(ranks[pg])
            agg[1] += float(rv)
            agg[2] += 1
    write_lines(d / "expected" / "amplab2.tsv", (f"{k}\t{v!r}" for k, v in prefix_sum.items()))
    write_lines(d / "expected" / "amplab3.tsv",
                (f"{ip}\t{r / m!r}\t{v / m!r}" for ip, (r, v, m) in per_ip.items()))
    return {"text_lines": s["lines"], "text_bytes": text_bytes,
            "distinct_words": int((counts > 0).sum()), "rankings_rows": n_rank,
            "rankings_bytes": rank_bytes, "uservisits_rows": n, "uservisits_bytes": visit_bytes,
            "amplab3_ips": len(per_ip)}


# -- daily_dedup -------------------------------------------------------------

def shingles(text):
    w = text.split(" ")
    return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}


def jaccard(a, b):
    return len(a & b) / len(a | b)


def dedup(rng, d, s):
    """Documents of doc_tokens random tokens with planted structure:
    - chains: sliding windows over one token stream, chain_shift tokens
      apart, so neighbours have shingle Jaccard 0.87 and members two hops
      apart 0.76 (below the 0.8 threshold); a chain of L members has
      diameter L - 1. The long_chain-member chain has its minimum id at an
      end, so label propagation needs the same rounds on every seed;
    - clusters: a base doc and variants with one token replaced each;
    - singletons.
    Days 1..days add increments: singletons, new cluster variants, two new
    members at the end of some chains, and the withheld interior member of
    some chains, which bridges two day-0 groups."""
    vocab = vocabulary(rng, 50000)
    days, toks, shift = s["days"], s["doc_tokens"], s["chain_shift"]

    def tokens(n):
        return [vocab[i] for i in rng.integers(0, len(vocab), n)]

    gap_chains, ext_chains, cluster_joins = 3 * days, 3 * days, 4 * days
    lengths = [s["long_chain"]]
    for c in range(s["chains"]):
        u = rng.random()
        ln = (2 + rng.integers(0, 4) if u < 0.6 else
              6 + rng.integers(0, 3) if u < 0.9 else 9 + rng.integers(0, 2))
        lengths.append(max(int(ln), 5) if c < gap_chains else int(ln))  # a gap needs two sides

    by_day = [[] for _ in range(days + 1)]   # (slot, text)
    planted = []                             # (kind, [slot])
    slot = 0

    def add(day, text):
        nonlocal slot
        by_day[day].append((slot, text))
        slot += 1
        return slot - 1

    for c, ln in enumerate(lengths):
        is_gap = 1 <= c <= gap_chains
        is_ext = gap_chains < c <= gap_chains + ext_chains
        total = ln + 2 if is_ext else ln
        stream = tokens(toks + shift * (total - 1))
        gap_at = 1 + rng.integers(0, ln - 2) if is_gap else -1
        members = []
        for i in range(total):
            day = (1 + (c - 1) % days if i == gap_at else
                   1 + (c - gap_chains - 1) % days if i >= ln else 0)
            members.append(add(day, " ".join(stream[i * shift:i * shift + toks])))
        planted.append(("chain", members))
    for c in range(s["clusters"]):
        base = tokens(toks)

        def variant():
            v = list(base)
            v[2 + rng.integers(0, toks - 4)] = vocab[rng.integers(0, len(vocab))]
            return " ".join(v)
        members = [add(0, " ".join(base))] + [add(0, variant()) for _ in range(2 + rng.integers(0, 5))]
        if c < cluster_joins:
            members.append(add(1 + c % days, variant()))
        planted.append(("cluster", members))
    for day in range(days + 1):
        target = s["day0_docs"] if day == 0 else s["inc_docs"]
        assert len(by_day[day]) <= target, f"day {day} overfull"
        while len(by_day[day]) < target:
            add(day, " ".join(tokens(toks)))

    # ids: day 0 a random permutation of [0, day0_docs), increments after
    ids = [0] * slot
    for (sl, _), i in zip(by_day[0], rng.permutation(s["day0_docs"])):
        ids[sl] = int(i)
    nxt = s["day0_docs"]
    for day in range(1, days + 1):
        for sl, _ in by_day[day]:
            ids[sl] = nxt
            nxt += 1
    long_slots = planted[0][1]
    lo = min(long_slots, key=lambda x: ids[x])
    ids[long_slots[0]], ids[lo] = ids[lo], ids[long_slots[0]]

    text = {sl: t for docs in by_day for sl, t in docs}
    for kind, members in planted:   # the geometry the checks rely on
        if kind == "chain":
            sh = [shingles(text[m]) for m in members]
            assert all(jaccard(a, b) >= 0.85 for a, b in zip(sh, sh[1:]))
            assert all(jaccard(a, b) < 0.78 for a, b in zip(sh, sh[2:]))
    text_bytes = 0
    for day in range(days + 1):
        rows = by_day[day]
        text_bytes += sum(len(t) + 8 for _, t in rows)
        out = d / "docs" / f"day{day}"
        out.mkdir(parents=True)
        pq.write_table(pa.table({"doc_id": pa.array([ids[sl] for sl, _ in rows], pa.int64()),
                                 "text": pa.array([t for _, t in rows], pa.string())}),
                       out / "part-00000.parquet")
    write_lines(d / "planted.tsv",
                (f"{k}\t{','.join(str(ids[m]) for m in ms)}" for k, ms in planted))
    chain_lens = [len(ms) for k, ms in planted if k == "chain"]
    hist = {str(n): chain_lens.count(n) for n in sorted(set(chain_lens))}
    return {"docs_day0": s["day0_docs"], "docs_per_increment": s["inc_docs"], "days": days,
            "docs_total": slot, "text_bytes": text_bytes, "chain_length_histogram": hist,
            "longest_chain_diameter": max(chain_lens) - 1,
            "share_docs_diameter_gt8": sum(n for n in chain_lens if n - 1 > 8) / slot,
            "clusters": s["clusters"], "bridging_docs": gap_chains,
            "chain_extension_docs": 2 * ext_chains, "cluster_join_docs": cluster_joins}


# -- ann_search --------------------------------------------------------------

def ann(rng, d, s):
    """clustered_share of the vectors sit around `clusters` random unit
    centres, the rest are diffuse Gaussian; ids are shuffled, so any id
    range is a uniform sample. Queries come from the same mixture; the
    exact cosine top-k of each (ties to the lower id) is computed here."""
    dim = s["dim"]
    centres = rng.standard_normal((s["clusters"], dim))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)

    def draw(n):
        clustered = rng.random(n) < s["clustered_share"]
        v = rng.standard_normal((n, dim))
        near = centres[rng.integers(0, s["clusters"], n)] + \
            s["cluster_noise"] * rng.standard_normal((n, dim)) / np.sqrt(dim)
        return np.where(clustered[:, None], near, v).astype(np.float32), clustered

    vecs, clustered = draw(s["vectors"])
    vecs = vecs[rng.permutation(s["vectors"])]
    nq = s["batches"] * s["queries_per_batch"]
    queries, q_clustered = draw(nq)

    def table(id0, rows):
        offsets = pa.array(np.arange(0, rows.size + 1, dim, dtype=np.int32))
        return pa.table({"vec_id": pa.array(np.arange(id0, id0 + len(rows)), pa.int64()),
                         "embedding": pa.ListArray.from_arrays(offsets, pa.array(rows.ravel()))})
    (d / "vectors").mkdir(parents=True)
    pq.write_table(table(0, vecs), d / "vectors" / "part-00000.parquet")
    qb = s["queries_per_batch"]
    for b in range(s["batches"]):
        out = d / "queries" / f"batch{b}"
        out.mkdir(parents=True)
        pq.write_table(table(QUERY_ID0 + b * qb, queries[b * qb:(b + 1) * qb]),
                       out / "part-00000.parquet")
    v64, q64 = vecs.astype(np.float64), queries.astype(np.float64)
    cos = (q64 @ v64.T) / np.outer(np.linalg.norm(q64, axis=1), np.linalg.norm(v64, axis=1))
    top = np.argsort(-cos, axis=1, kind="stable")[:, :s["k"]]
    write_lines(d / "expected" / "topk.tsv",
                (f"{QUERY_ID0 + q}\t{q // qb}\t{','.join(map(str, top[q]))}" for q in range(nq)))
    return {"vectors": s["vectors"], "dim": dim, "vector_bytes": s["vectors"] * dim * 4,
            "clusters": s["clusters"], "concentrated_share": float(clustered.mean()),
            "diffuse_share": float(1 - clustered.mean()), "query_batches": s["batches"],
            "queries_per_batch": qb, "queries_concentrated_share": float(q_clustered.mean()),
            "k": s["k"]}
