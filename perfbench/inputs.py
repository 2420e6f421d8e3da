"""Seeded benchmark inputs, built once per (workload, seed, size) and cached.

The program under test only ever sees the parquet tables written here; the
generators, the expected outputs the checks compare against and the golden
survivor and admit digests stay on the benchmark side.

Crawl input (``crawl_extract`` / ``crawl_curate``): ``batches`` parquet
parts of ``pages_per_batch`` pages each, one part per crawl segment. Batch
``b`` of a run reads parts ``0..b``, so its pages table holds every earlier
page plus the new segment and the pipeline's resume anti-join has to skip
the urls it already committed. Pages are ``datagen.make_page(i, seed)``;
a ``repost_share`` of them carry the html of an earlier page under their
own url (the same article reposted), so the ``seen_hashes`` dedup gate has
duplicates to find.

Dedup input (``corpus_dedup``): a base corpus and ``increments`` admit
batches of ``(doc_id long, text string)``, each written as ONE parquet file
with one row group (the layout of the sf tables, which engages the
``ensure_parallelism`` guard). Doc length and the shares of byte-equal
copies and one-word-appended near copies are those measured on the sf
documents tables; the vocabulary is synthetic and wide, so unrelated docs
rarely share 5-char shingles (perfbench/README.md, "Dedup traffic", gives
the measurements and marks which values are choices).
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
from collections import Counter
from dataclasses import asdict, dataclass

import pyarrow as pa
import pyarrow.parquet as pq

# Bumped whenever a generator changes, so stale caches are never reused.
GENERATOR_VERSION = 2


@dataclass(frozen=True)
class CrawlSize:
    batches: int
    pages_per_batch: int
    # the sf documents tables' duplicate share (exact + near), README
    repost_share: float = 0.05
    sample: int = 48


@dataclass(frozen=True)
class DedupSize:
    base_docs: int
    increments: int
    increment_docs: int
    # measured on the sf documents tables (README, "Dedup traffic")
    words_min: int = 10
    words_max: int = 99
    exact_share: float = 0.0016
    near_share: float = 0.05
    # choices, not measured
    vocab: int = 20_000
    word_len_min: int = 3
    word_len_max: int = 6
    resend_share: float = 0.05


def _write_one_file(table: pa.Table, path: str) -> None:
    # one file, one row group: a single scan task, like the sf tables
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))


def _cache_dir(cache_root: str, workload_kind: str, seed: int, size) -> str:
    key = json.dumps([GENERATOR_VERSION, workload_kind, seed, asdict(size)],
                     sort_keys=True)
    digest = hashlib.sha256(key.encode()).hexdigest()[:16]
    return os.path.join(cache_root, f"{workload_kind}-s{seed}-{digest}")


def _cached(cache_root: str, kind: str, seed: int, size, build) -> dict:
    """Return the cached input description, building it on a miss. The
    build writes into a temp dir that is renamed into place, so a run
    killed mid-build never leaves a half-written cache entry."""
    final = _cache_dir(cache_root, kind, seed, size)
    meta_path = os.path.join(final, "input.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            return json.load(f)
    tmp = f"{final}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    meta = build(tmp)
    with open(os.path.join(tmp, "input.json"), "w") as f:
        json.dump(meta, f)
    try:
        os.rename(tmp, final)
    except OSError:  # a concurrent build won the race; use its copy
        shutil.rmtree(tmp, ignore_errors=True)
    with open(meta_path) as f:
        meta = json.load(f)
    return meta


# --- crawl pages ---------------------------------------------------------------

def _crawl_pages(seed: int, size: CrawlSize) -> tuple[list[dict], list[int]]:
    """All pages in crawl order, and for each the index of the page whose
    html it carries (itself unless it is a repost)."""
    from rag_pdf_parser_spark.datagen import make_page

    rng = random.Random(seed * 7919 + 1)
    n = size.batches * size.pages_per_batch
    pages, source = [], []
    for i in range(n):
        p = make_page(i, seed)
        src = i
        if i > 0 and rng.random() < size.repost_share:
            src = source[rng.randrange(i)]  # always an original page
            p["html"] = pages[src]["html"]
        pages.append(p)
        source.append(src)
    return pages, source


def _expected_doc(html: bytes) -> dict:
    """What the program must commit for one page, from the kernel."""
    from rag_pdf_parser_spark.kernel.chunker import chunk_blocks
    from rag_pdf_parser_spark.kernel.htmlx import extract_document
    from rag_pdf_parser_spark.kernel.twins import normalized_text

    d = extract_document(html)
    text = d["extracted_text"] or ""
    ok = d["failure_code"] is None and len(text) > 0
    return {
        "doc_id": d["doc_id"],
        "failure_code": d["failure_code"],
        "extracted_text": d["extracted_text"],
        "chunks": [{k: c[k] for k in CHUNK_CHECK_FIELDS}
                   for c in chunk_blocks(d["blocks"], d["doc_id"])],
        "norm_hash": hashlib.sha256(
            normalized_text(text).encode("utf-8")).hexdigest() if ok else None,
    }


#: chunk fields compared byte-for-byte with the kernel (the float
#: embedding is derived from `text` and left out)
CHUNK_CHECK_FIELDS = ("chunk_id", "page_start", "page_end", "block_ids",
                      "section", "text", "token_count", "char_count",
                      "reading_order_start", "reading_order_end", "anchors")


def build_crawl(cache_root: str, seed: int, size: CrawlSize) -> dict:
    def build(d: str) -> dict:
        pages, source = _crawl_pages(seed, size)
        parts = []
        per = size.pages_per_batch
        for b in range(size.batches):
            rows = pages[b * per:(b + 1) * per]
            path = os.path.join(d, f"pages-part-{b:03d}.parquet")
            pq.write_table(pa.Table.from_pylist(rows), path)
            parts.append(path)
        # expected output per distinct html source: the checks need the
        # normalized-text hash of every page (duplicate expectations) and
        # the full kernel output of the sampled pages only
        rng = random.Random(seed * 104729 + 3)
        sample = sorted(rng.sample(range(len(pages)),
                                   min(size.sample, len(pages))))
        expected = {src: _expected_doc(pages[src]["html"])
                    for src in sorted(set(source))}
        per_page = []
        for i, p in enumerate(pages):
            e = expected[source[i]]
            per_page.append({"url": p["url"], "batch": i // per,
                             "source": source[i],
                             "norm_hash": e["norm_hash"],
                             "n_chunks": len(e["chunks"])})
        sampled = {pages[i]["url"]: dict(expected[source[i]],
                                         source=source[i]) for i in sample}
        # raw text of every source sharing a normalized hash with a sampled
        # page: the curation gates of all of them decide which copy wins
        hashes = {e["norm_hash"] for e in sampled.values()} - {None}
        group_texts = {src: e["extracted_text"] for src, e in expected.items()
                       if e["norm_hash"] in hashes
                       or src in {e["source"] for e in sampled.values()}}
        with open(os.path.join(d, "expected.json"), "w") as f:
            json.dump({"pages": per_page, "sample": sampled,
                       "group_texts": group_texts}, f)
        n_bytes = sum(len(p["html"]) for p in pages)
        return {
            "kind": "crawl", "seed": seed, "size": asdict(size),
            "parts": [os.path.basename(p) for p in parts],
            "pages": len(pages),
            "input_bytes": n_bytes,
            "mean_page_bytes": n_bytes / len(pages),
            "reposts": sum(1 for i, s in enumerate(source) if s != i),
            "failed_pages": sum(1 for s in source
                                if expected[s]["failure_code"] is not None),
        }

    meta = _cached(cache_root, "crawl", seed, size, build)
    meta["dir"] = _cache_dir(cache_root, "crawl", seed, size)
    return meta


def load_crawl_expected(meta: dict) -> dict:
    with open(os.path.join(meta["dir"], "expected.json")) as f:
        return json.load(f)


# --- near-dup corpus -------------------------------------------------------------

def _vocab(rng: random.Random, size: "DedupSize") -> list[str]:
    letters = "abcdefghijklmnopqrstuvwxyz"
    words = set()
    while len(words) < size.vocab:
        words.add("".join(rng.choice(letters) for _ in range(
            rng.randint(size.word_len_min, size.word_len_max))))
    return sorted(words)


def _jaccard5(a: str, b: str) -> float:
    from rag_pdf_parser_spark.kernel.twins import char_shingles

    sa, sb = char_shingles(a), char_shingles(b)
    return len(sa & sb) / len(sa | sb)


class _CorpusGen:
    """Draws docs as the sf documents tables were measured to look: a
    uniform 10–99 words, a share of byte-equal copies of an earlier doc and
    a share of copies of an earlier doc with one word appended."""

    def __init__(self, seed: int, size: DedupSize) -> None:
        self.rng = random.Random(seed * 15485863 + 11)
        self.size = size
        self.words = _vocab(self.rng, size)
        self.pool: list[str] = []  # every doc drawn so far: the copy sources

    def draw(self) -> tuple[str, str]:
        s, rng = self.size, self.rng
        x = rng.random()
        if self.pool and x < s.exact_share:
            role, text = "exact", rng.choice(self.pool)
        elif self.pool and x < s.exact_share + s.near_share:
            role = "near"
            while True:  # the dedup threshold holds for all but tiny sources
                src = rng.choice(self.pool)
                text = src + " " + rng.choice(self.words)
                if _jaccard5(text, src) >= 0.8:
                    break
        else:
            role = "unique"
            text = " ".join(rng.choice(self.words) for _ in range(
                rng.randint(s.words_min, s.words_max)))
        self.pool.append(text)
        return role, text


def _corpus_rows(seed: int, size: DedupSize):
    """The base corpus, then each increment as a continuation of the same
    draw, plus a `resend_share` of the previous increment's new rows sent
    again under their ids (a retried batch)."""
    g = _CorpusGen(seed, size)
    base, roles = [], Counter()
    for i in range(size.base_docs):
        role, text = g.draw()
        base.append((i, text))
        roles[role] += 1
    increments, inc_roles = [], []
    next_id = size.base_docs
    prev: list[tuple[int, str]] = []
    for _ in range(size.increments):
        rows, new, r = [], [], Counter()
        for _ in range(size.increment_docs):
            if prev and g.rng.random() < size.resend_share:
                row = g.rng.choice(prev)
                if row not in rows:  # ids stay unique within a batch
                    rows.append(row)
                    r["resend"] += 1
                continue
            role, text = g.draw()
            new.append((next_id, text))
            rows.append(new[-1])
            next_id += 1
            r[role] += 1
        increments.append(rows)
        inc_roles.append(dict(r))
        prev = new
    return base, dict(roles), increments, inc_roles


def _signatures(texts: list[str], n: int, num_perm: int) -> list[tuple]:
    """`kernel.twins.minhash_signature_xx` of many texts at once: the same
    XXH64 hashInt of the perm index seeded by each shingle's string hash,
    signed min over the shingles, evaluated with numpy (the pure-Python
    twin costs about 13 ms a doc)."""
    import numpy as np

    from rag_pdf_parser_spark.kernel.twins import char_shingles
    from rag_pdf_parser_spark.kernel.xxh import _P1, _P2, _P3, _P5, xxh64_bytes

    u, mask = np.uint64, (1 << 64) - 1
    gram_seed: dict[str, int] = {}
    seeds, starts = [], []
    for t in texts:
        starts.append(len(seeds))
        for g in char_shingles(t, n):
            s = gram_seed.get(g)
            if s is None:
                s = gram_seed[g] = xxh64_bytes(g.encode("utf-8"), 42)
            seeds.append(s)
    h0 = np.array(seeds, dtype=np.uint64) + u((_P5 + 4) & mask)
    out = np.empty((len(texts), num_perm), dtype=np.int64)
    with np.errstate(over="ignore"):
        for j in range(num_perm):
            h = h0 ^ u((j * _P1) & mask)
            h = ((h << u(23)) | (h >> u(41))) * u(_P2) + u(_P3)
            h ^= h >> u(33)
            h *= u(_P2)
            h ^= h >> u(29)
            h *= u(_P3)
            h ^= h >> u(32)
            out[:, j] = np.minimum.reduceat(h.view(np.int64), starts)
    return [tuple(int(v) for v in row) for row in out]


class _Golden:
    """The `kernel.twins` composition the `dedup_corpus_sql` oracle uses:
    sha256 normalized-exact winners → XXH64 MinHash LSH buckets (32 perms,
    8 bands, the twin's banding) → set Jaccard of char-5 shingles, half-up
    at 6 decimals → union-find with the min id canonical. One signature
    per doc, checked against the pure-Python twin on a sample."""

    N, NUM_PERM, BANDS, THRESHOLD = 5, 32, 8, 0.8

    def __init__(self, rows: list[tuple[int, str]]) -> None:
        from rag_pdf_parser_spark.kernel.twins import minhash_signature_xx

        self.texts = dict(rows)
        ids = list(self.texts)
        sigs = _signatures([self.texts[d] for d in ids], self.N, self.NUM_PERM)
        self.sig = dict(zip(ids, sigs))
        for d in ids[:8]:
            if self.sig[d] != tuple(minhash_signature_xx(
                    self.texts[d], self.N, self.NUM_PERM)):
                raise RuntimeError(f"vectorized signature of doc {d} differs "
                                   "from kernel.twins.minhash_signature_xx")
        self._sh: dict[int, set] = {}

    def bands(self, d: int) -> list[tuple]:
        r = self.NUM_PERM // self.BANDS
        return [(b, self.sig[d][b * r:(b + 1) * r]) for b in range(self.BANDS)]

    def similar(self, a: int, b: int) -> bool:
        from rag_pdf_parser_spark.kernel.twins import char_shingles, round_half_up

        for d in (a, b):
            if d not in self._sh:
                self._sh[d] = char_shingles(self.texts[d], self.N)
        sa, sb = self._sh[a], self._sh[b]
        inter = len(sa & sb)
        j = inter / (len(sa) + len(sb) - inter)
        return round_half_up(j, 6) >= self.THRESHOLD

    def one_shot(self, ids: list[int]) -> list[int]:
        """Survivor ids of `dedup_corpus` with its default config."""
        from rag_pdf_parser_spark.kernel.twins import normalized_text

        best: dict[str, int] = {}
        for d in ids:
            h = hashlib.sha256(
                normalized_text(self.texts[d]).encode("utf-8")).hexdigest()
            if h not in best or d < best[h]:
                best[h] = d
        survivors = sorted(best.values())
        buckets: dict[tuple, list] = {}
        for d in survivors:
            for key in self.bands(d):
                buckets.setdefault(key, []).append(d)
        parent: dict = {}

        def find(x):
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        pairs = {(a, b) for ms in buckets.values()
                 for i, a in enumerate(ms) for b in ms[i + 1:]}
        for a, b in sorted(pairs):
            if self.similar(a, b):
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
        return [d for d in survivors if find(d) == d]

    def admits(self, base: list[int], increments: list[list[int]]):
        """Base survivors, then the admitted ids of each increment under
        `dedup_corpus_incremental`'s first-seen-greedy rule: ids already in
        canon are skipped, the rest are deduped among themselves, and a
        survivor sharing an LSH bucket with a canon doc at Jaccard >= 0.8
        is dropped."""
        canon = self.one_shot(base)
        survivors = list(canon)
        index: dict[tuple, list] = {}
        for d in canon:
            for key in self.bands(d):
                index.setdefault(key, []).append(d)
        seen = set(canon)
        out = []
        for inc in increments:
            batch = self.one_shot([d for d in inc if d not in seen])
            admitted = [d for d in batch if not any(
                self.similar(d, o) for o in
                {o for key in self.bands(d) for o in index.get(key, ())})]
            for d in admitted:
                seen.add(d)
                for key in self.bands(d):
                    index.setdefault(key, []).append(d)
            out.append(admitted)
        return survivors, out


def survivor_digest(ids) -> str:
    return hashlib.sha256(
        ",".join(str(i) for i in sorted(ids)).encode()).hexdigest()


def build_dedup(cache_root: str, seed: int, size: DedupSize) -> dict:
    def build(d: str) -> dict:
        base, roles, incs, inc_roles = _corpus_rows(seed, size)
        schema = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])

        def table(rows):
            return pa.Table.from_arrays(
                [pa.array([r[0] for r in rows], pa.int64()),
                 pa.array([r[1] for r in rows], pa.string())], schema=schema)

        _write_one_file(table(base), os.path.join(d, "base.parquet"))
        for k, rows in enumerate(incs):
            _write_one_file(table(rows),
                            os.path.join(d, f"increment-{k:03d}.parquet"))
        all_rows = base + [r for rows in incs for r in rows]
        golden = _Golden(all_rows)
        survivors, admits = golden.admits(
            [i for i, _ in base], [[i for i, _ in rows] for rows in incs])
        n_bytes = sum(len(t.encode("utf-8")) for _, t in all_rows)
        return {
            "kind": "dedup", "seed": seed, "size": asdict(size),
            "base": "base.parquet",
            "increments": [f"increment-{k:03d}.parquet"
                           for k in range(len(incs))],
            "base_docs": len(base),
            "increment_docs": [len(r) for r in incs],
            "base_roles": roles, "increment_roles": inc_roles,
            "input_bytes": n_bytes,
            "mean_doc_bytes": n_bytes / len(all_rows),
            "golden_survivors": len(survivors),
            "golden_digest": survivor_digest(survivors),
            "golden_admits": [{"n": len(a), "digest": survivor_digest(a)}
                              for a in admits],
        }

    meta = _cached(cache_root, "dedup", seed, size, build)
    meta["dir"] = _cache_dir(cache_root, "dedup", seed, size)
    return meta
