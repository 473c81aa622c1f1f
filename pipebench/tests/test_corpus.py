"""The corpus generator: deterministic per seed, planted margins hold."""

from __future__ import annotations

import pytest

from pipebench import corpus as C


@pytest.mark.parametrize("name", sorted(C.GENERATORS))
def test_deterministic_per_seed(name):
    gen = C.GENERATORS[name]
    a, b, other = gen(7), gen(7), gen(8)
    assert (a.urls, a.ts, a.texts) == (b.urls, b.ts, b.texts)
    assert a.label == b.label and a.edges == b.edges and a.decoys == b.decoys
    assert a.texts != other.texts


@pytest.mark.parametrize("name", sorted(C.GENERATORS))
@pytest.mark.parametrize("seed", [1, 2, 3])
def test_planted_margins_hold(name, seed):
    c = C.GENERATORS[name](seed)
    counts = C.check_margins(c)
    # every kind of evidence and the border decoys are planted
    assert set(counts) == {"exact", "near", "span", "decoy"}
    for a, b, kind in c.edges:
        assert c.label[a] == c.label[b]
        if kind == "near":
            assert C.jaccard(c.words[a], c.words[b]) >= C.TAU + 0.08
        if kind == "span":
            # the shared run alone is twice the span threshold in chars
            run = C.longest_common_run(c.words[a], c.words[b])
            assert run >= C.SPAN_MIN_WORDS
    for a, b in c.decoys:
        j = C.jaccard(c.words[a], c.words[b])
        # inside the verify border band (tau +- est_clear_margin), below tau
        assert C.TAU - 0.2 < j <= C.TAU - 0.08
        # longest shared substring bound stays below the span threshold
        run = C.longest_common_run(c.words[a], c.words[b])
        assert (run + 2) * (C.MAX_STEM + 1) < C.MIN_SPAN_CHARS


def test_check_margins_rejects_a_weak_edge():
    c = C.crawl_lowdup(1, n_docs=300)
    a, b, _ = next(e for e in c.edges if e[2] == "near")
    c.edges.append((a, next(u for u in c.label if c.label[u] != c.label[a]), "near"))
    with pytest.raises(AssertionError):
        C.check_margins(c)


def test_recrawls_are_later_than_their_canonical_row():
    c = C.crawl_lowdup(4, n_docs=500)
    first: dict[str, int] = {}
    for url, ts in zip(c.urls, c.ts):
        first[url] = min(ts, first.get(url, ts))
    assert len(c.urls) > len(c.label) == len(first)
    for url, ts, text in zip(c.urls, c.ts, c.texts):
        if ts == first[url]:
            assert text == " ".join(c.words[url])


def test_dup_heavy_is_mostly_dup_structures():
    c = C.dup_heavy(5)
    sizes: dict[int, int] = {}
    for cid in c.label.values():
        sizes[cid] = sizes.get(cid, 0) + 1
    in_dups = sum(n for n in sizes.values() if n > 1)
    assert in_dups + 2 * len(c.decoys) > c.n_docs / 2
    assert max(sizes.values()) >= 150


def test_longest_common_run():
    assert C.longest_common_run("a b c d".split(), "x b c d y".split()) == 3
    assert C.longest_common_run("a b".split(), "c d".split()) == 0
