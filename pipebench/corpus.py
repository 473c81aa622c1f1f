"""Seeded `pages` corpora with planted duplicate truth.

The vocabulary is the word set of the repository's sf0.1 `documents`
table (31 words), widened to 961 words by pairwise compounds and drawn
with Zipf-like frequencies, so the text looks like web prose to the
shingling kernels without any download.

The planted truth follows the pipeline's own edge contract: exact
copies, word-5-shingle Jaccard >= tau, and a shared verbatim span of at
least `min_span_chars`, closed under connected components.  Every
planted edge clears those thresholds by a margin and every planted
non-edge (border decoys) misses them by a margin; both are checked here,
at generation time (`check_margins`).  Unrelated documents are
independent Zipf text: they share no 5-shingle set anywhere near tau and
no run of words near a span.

Everything derives from `numpy.random.default_rng(seed)`.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

# word set of the sf0.1 `documents` table, by descending frequency
STEMS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch dup"
).split()

TAU = 0.7             # DedupConfig.jaccard_threshold used by the benchmark
SHINGLE_K = 5         # DedupConfig.shingle_k
MIN_SPAN_CHARS = 200  # DedupConfig.min_span_chars
EDGE_MIN_J = TAU + 0.08    # planted near edges
DECOY_MAX_J = TAU - 0.08   # planted border non-edges
SPAN_MIN_WORDS = 60        # planted spans: >= 60 words and >= 2x min chars
# a border decoy pair may share no run of this many words: with words of
# at most MAX_STEM chars, its longest common substring is then at most
# (DECOY_MAX_RUN + 1) * (MAX_STEM + 1) chars (a run plus a partial word
# at each end), below MIN_SPAN_CHARS
DECOY_MAX_RUN = 18
MAX_STEM = max(len(s) for s in STEMS)
T0 = 1_704_067_200  # 2024-01-01T00:00:00Z


def vocabulary() -> list[str]:
    """Stems plus ordered stem pairs, in a fixed seed-independent Zipf
    rank order (rank 0 is the most frequent word)."""
    words = list(STEMS) + [a + b for a in STEMS for b in STEMS if a != b]
    order = np.random.default_rng(0).permutation(len(words))
    return [words[i] for i in order]


def shingles(words: list[str], k: int = SHINGLE_K) -> set[tuple[str, ...]]:
    return set(zip(*(words[i:] for i in range(k))))


def jaccard(a: list[str], b: list[str]) -> float:
    sa, sb = shingles(a), shingles(b)
    if not sa or not sb:
        return 0.0
    return len(sa & sb) / len(sa | sb)


def longest_common_run(a: list[str], b: list[str]) -> int:
    """Longest run of consecutive words the two documents share (DP over
    word positions, rows rolled)."""
    pos: dict[str, list[int]] = {}
    for j, w in enumerate(b):
        pos.setdefault(w, []).append(j)
    best, prev = 0, {}
    for w in a:
        cur = {}
        for j in pos.get(w, ()):
            v = prev.get(j - 1, 0) + 1
            cur[j] = v
            best = max(best, v)
        prev = cur
    return best


@dataclass
class Corpus:
    """Rows of the `pages` input plus the planted truth.

    `label[url]` is the planted cluster of each canonical (earliest)
    crawl of a url; `edges` and `decoys` are the planted pairs whose
    margins `check_margins` verifies, with the kind of evidence each
    edge carries ('exact', 'near' or 'span')."""

    urls: list[str] = field(default_factory=list)
    ts: list[int] = field(default_factory=list)
    texts: list[str] = field(default_factory=list)
    label: dict[str, int] = field(default_factory=dict)
    words: dict[str, list[str]] = field(default_factory=dict)
    edges: list[tuple[str, str, str]] = field(default_factory=list)
    decoys: list[tuple[str, str]] = field(default_factory=list)
    n_clusters: int = 0

    @property
    def n_docs(self) -> int:
        return len(self.label)

    def to_parquet(self, path) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        table = pa.table(
            {
                "url": pa.array(self.urls, pa.string()),
                "warc_ts": pa.array(
                    np.array(self.ts, dtype="datetime64[s]"), pa.timestamp("us", tz="UTC")
                ),
                "text": pa.array(self.texts, pa.string()),
            }
        )
        pq.write_table(table, path, row_group_size=4096)


class _Builder:
    def __init__(self, seed: int):
        self.rng = np.random.default_rng(seed)
        self.vocab = np.array(vocabulary(), dtype=object)
        ranks = np.arange(len(self.vocab), dtype=float)
        p = 1.0 / (ranks + 3.0) ** 1.05
        self.p = p / p.sum()
        self.stems = np.array(STEMS, dtype=object)
        self.c = Corpus()
        self._next_url = 0

    # -- text --------------------------------------------------------
    def length(self, median: float, lo: int, hi: int) -> int:
        return int(np.clip(self.rng.lognormal(np.log(median), 0.5), lo, hi))

    def text(self, n: int) -> list[str]:
        return list(self.rng.choice(self.vocab, size=n, p=self.p))

    def substitute(self, words: list[str], n_sub: int) -> list[str]:
        out = list(words)
        for i in self.rng.choice(len(out), size=n_sub, replace=False):
            out[i] = str(self.rng.choice(self.vocab, p=self.p))
        return out

    def near_copy(self, words: list[str], target_j: float) -> list[str]:
        """Copy with word substitutions sized so Jaccard lands near
        target_j; shrinks the edit until the edge clears EDGE_MIN_J."""
        n_sub = max(1, round(len(words) * (1 - target_j) / (SHINGLE_K * (1 + target_j))))
        while True:
            out = self.substitute(words, n_sub)
            if jaccard(words, out) >= EDGE_MIN_J:
                return out
            n_sub = max(1, n_sub - 1)

    # -- rows --------------------------------------------------------
    def add(self, words: list[str], cluster: int) -> str:
        url = f"https://site{self._next_url % 97:02d}.example/p/{self._next_url:07d}"
        self._next_url += 1
        self.c.urls.append(url)
        self.c.ts.append(T0 + int(self.rng.integers(0, 86_400 * 30)))
        self.c.texts.append(" ".join(words))
        self.c.label[url] = cluster
        self.c.words[url] = words
        return url

    def cluster(self) -> int:
        self.c.n_clusters += 1
        return self.c.n_clusters - 1

    def unique(self, median: float = 180) -> str:
        return self.add(self.text(self.length(median, 30, 1200)), self.cluster())

    def exact_group(self, size: int, median: float = 180) -> None:
        # a big family's one text would swing the corpus size per seed
        words = self.text(int(median) if size >= 10 else self.length(median, 30, 1200))
        cid = self.cluster()
        urls = [self.add(words, cid) for _ in range(size)]
        self.c.edges += [(urls[0], u, "exact") for u in urls[1:]]

    def near_star(self, size: int, target_j: float = 0.86, median: float = 200) -> None:
        base = self.text(int(median) if size >= 10 else self.length(median, 80, 1200))
        cid = self.cluster()
        root = self.add(base, cid)
        for _ in range(size - 1):
            u = self.add(self.near_copy(base, target_j), cid)
            self.c.edges.append((root, u, "near"))

    def chain(self, length: int, target_j: float = 0.82, n_words: int = 140) -> None:
        words = self.text(n_words)
        cid = self.cluster()
        prev = self.add(words, cid)
        for _ in range(length - 1):
            words = self.near_copy(words, target_j)
            u = self.add(words, cid)
            self.c.edges.append((prev, u, "near"))
            prev = u

    def span_group(self, size: int, median: float = 180) -> None:
        """`size` otherwise unrelated docs sharing one verbatim span."""
        span = self.text(SPAN_MIN_WORDS + int(self.rng.integers(0, 40)))
        while len(" ".join(span)) < 2 * MIN_SPAN_CHARS:
            span += self.text(10)
        cid = self.cluster()
        urls = []
        for _ in range(size):
            pre = self.text(self.length(median / 2, 10, 600))
            post = self.text(self.length(median / 2, 10, 600))
            urls.append(self.add(pre + span + post, cid))
        self.c.edges += [(urls[0], u, "span") for u in urls[1:]]

    def border_pair(self, n_words: int = 240) -> None:
        """Two docs in the verify border band (Jaccard in (tau - 0.2,
        DECOY_MAX_J]) that must NOT pair: stem-only text whose common
        runs of DECOY_MAX_RUN words are cut by one differing word, so no
        long verbatim span is shared either."""
        while True:
            a, b = [], []
            while len(a) < n_words:
                run = list(self.rng.choice(self.stems, size=DECOY_MAX_RUN - 1))
                x, y = self.rng.choice(self.stems, size=2, replace=False)
                a += run + [str(x)]
                b += run + [str(y)]
            a, b = [str(w) for w in a], [str(w) for w in b]
            if TAU - 0.2 < jaccard(a, b) <= DECOY_MAX_J and longest_common_run(a, b) < DECOY_MAX_RUN:
                break
        ua = self.add(a, self.cluster())
        ub = self.add(b, self.cluster())
        self.c.decoys.append((ua, ub))

    def recrawls(self, n: int) -> None:
        """Later crawls of existing urls with unrelated text: the canon
        stage keeps the earliest crawl, so these must vanish."""
        for i in self.rng.choice(len(self.c.label), size=n, replace=False):
            url = self.c.urls[i]
            self.c.urls.append(url)
            self.c.ts.append(self.c.ts[i] + 1 + int(self.rng.integers(0, 86_400)))
            self.c.texts.append(" ".join(self.text(self.length(180, 30, 1200))))

    def finish(self) -> Corpus:
        """Shuffle row order so families are not adjacent in the input."""
        order = self.rng.permutation(len(self.c.urls))
        self.c.urls = [self.c.urls[i] for i in order]
        self.c.ts = [self.c.ts[i] for i in order]
        self.c.texts = [self.c.texts[i] for i in order]
        return self.c


def crawl_lowdup(seed: int, n_docs: int = 4_000) -> Corpus:
    """Mostly unique web-page-like docs with a few percent of exact and
    near copies (pairs and triples), shared-span pairs and border-band
    decoys."""
    b = _Builder(seed)
    # the same family mix for every seed: only the text varies
    i = 0
    while b.c.n_docs < n_docs * 0.06:
        size = 2 + i % 2
        (b.exact_group, b.near_star)[i % 2](size)
        b.span_group(2)
        b.border_pair()
        i += 1
    while b.c.n_docs < n_docs:
        b.unique()
    b.recrawls(n_docs // 50)
    return b.finish()


def dup_heavy(seed: int, n_docs: int = 1_000) -> Corpus:
    """Most docs in dup structures: exact groups and near-dup stars of up
    to a few hundred members, edit chains tens of docs long, border-band
    decoys and multi-doc shared spans; the rest unique background.

    The near-dup stars are few and large: their candidate pairs grow with
    the square of their size while the per-document kernels grow only
    linearly, so pair emission, verify and spans carry most of the work."""
    b = _Builder(seed)
    for size in (100, 30, 10, 5):
        b.exact_group(size)
    for size in (250, 120, 40, 10):
        b.near_star(size)
    for length in (25, 30, 35, 40, 45, 30, 40):
        b.chain(length)
    for _ in range(40):
        b.border_pair()
    for i in range(25):
        b.span_group(2 + i % 4)
    if b.c.n_docs > n_docs:
        raise ValueError(f"dup_heavy needs n_docs >= {b.c.n_docs}")
    while b.c.n_docs < n_docs:
        b.unique(median=120)
    b.recrawls(n_docs // 50)
    return b.finish()


GENERATORS = {"crawl_lowdup": crawl_lowdup, "dup_heavy": dup_heavy}


def check_margins(c: Corpus) -> dict[str, int]:
    """Raise unless every planted edge clears its threshold by the
    margin and every border decoy misses both by the margin; returns
    the number of pairs checked per kind."""
    counts: dict[str, int] = {}
    for a, b, kind in c.edges:
        wa, wb = c.words[a], c.words[b]
        if kind == "exact":
            ok = wa == wb
        elif kind == "near":
            ok = jaccard(wa, wb) >= EDGE_MIN_J
        else:
            ok = longest_common_run(wa, wb) >= SPAN_MIN_WORDS
        if not ok:
            raise AssertionError(f"planted {kind} edge {a} {b} misses its margin")
        counts[kind] = counts.get(kind, 0) + 1
    for a, b in c.decoys:
        wa, wb = c.words[a], c.words[b]
        if jaccard(wa, wb) > DECOY_MAX_J or longest_common_run(wa, wb) >= DECOY_MAX_RUN:
            raise AssertionError(f"border decoy {a} {b} misses its margin")
        if c.label[a] == c.label[b]:
            raise AssertionError(f"border decoy {a} {b} shares a cluster")
        counts["decoy"] = counts.get("decoy", 0) + 1
    return counts
