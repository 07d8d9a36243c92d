"""Each correctness check fires on a corrupted output: two swapped
cluster ids."""

from checks import (
    check_chains,
    check_covers,
    check_dedup,
    check_same,
    pair_f1,
    partition_digest,
)
from corpora import chain_labeled_pairs, chain_pages

# three clusters; cluster_id is the minimum member id
GOOD = [("a", "a"), ("b", "a"), ("c", "a"), ("d", "d"), ("e", "d"), ("f", "f")]


def swapped(rows, i, j):
    rows = list(rows)
    (x, cx), (y, cy) = rows[i], rows[j]
    rows[i], rows[j] = (x, cy), (y, cx)
    return rows


def test_pair_f1():
    labeled = [("a", "b", 1), ("d", "e", 1), ("a", "d", 0), ("b", "f", 0), ("a", "zz", 1)]
    assert pair_f1(GOOD, labeled) == 1.0
    # b and e trade clusters: both true pairs are missed
    assert pair_f1(swapped(GOOD, 1, 4), labeled) == 0.0


def test_dedup_checks_fire_on_swap():
    ref = (1.0, partition_digest(GOOD))
    assert check_dedup(1.0, partition_digest(GOOD), ref) == []
    bad = swapped(GOOD, 1, 4)
    fails = check_dedup(1.0, partition_digest(bad), ref)
    assert [f.split(":")[0] for f in fails] == ["partition_stable"]
    fails = check_dedup(0.5, partition_digest(bad), ref)
    assert {f.split(":")[0] for f in fails} == {
        "pair_f1_floor", "pair_f1_stable", "partition_stable",
    }


def test_chain_checks_fire_on_swap():
    rows = chain_pages(seed=3, n_chains=3, chain_len=5)
    truth = {url: c for url, _, c in rows}
    members: dict[int, list[str]] = {}
    for url, _, c in rows:
        members.setdefault(c, []).append(url)
    good = [(url, min(members[c])) for url, _, c in rows]
    assert check_chains(good, truth, 3, 5) == []
    i = next(k for k, (u, c) in enumerate(good) if truth[u] == 0 and u != c)
    j = next(k for k, (u, c) in enumerate(good) if truth[u] == 1 and u != c)
    fails = check_chains(swapped(good, i, j), truth, 3, 5)
    assert [f.split(":")[0] for f in fails] == ["clusters_match_chains"]
    # one chain split in two: the count and size checks fire too
    split = [(u, u if u == good[i][0] else c) for u, c in good]
    names = {f.split(":")[0] for f in check_chains(split, truth, 3, 5)}
    assert names == {"components_equal_chains", "clusters_match_chains"}


def test_same_fires_on_swap():
    assert check_same("mirror_equals_link_pages", list(reversed(GOOD)), GOOD) == []
    fails = check_same("mirror_equals_link_pages", swapped(GOOD, 1, 4), GOOD)
    assert fails and fails[0].startswith("mirror_equals_link_pages:")


def test_covers_fires_on_lost_or_doubled_page():
    assert check_covers("cold_run_covers_pages", swapped(GOOD, 1, 4), 6) == []
    assert check_covers("cold_run_covers_pages", GOOD[1:], 6)
    doubled = GOOD[:-1] + [("a", "f")]
    assert check_covers("cold_run_covers_pages", doubled, 6)


def test_chain_corpus_is_seeded():
    assert chain_pages(7, 2, 4) == chain_pages(7, 2, 4)
    assert chain_pages(7, 2, 4) != chain_pages(8, 2, 4)
    rows = chain_pages(7, 2, 4)
    pairs = chain_labeled_pairs(rows, 7)
    assert sum(label for *_, label in pairs) == 2 * 3  # consecutive pages
    assert all(a < b for a, b, _ in pairs)
