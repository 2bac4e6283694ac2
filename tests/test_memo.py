"""The session memo's LRU contract: eviction order at capacity, retry
after a failed build, and the hit/miss counts the bench reads."""

from __future__ import annotations

import pytest

from df_spark.plans.memo import ALL_MEMOS, Memo, clear_all_memos


@pytest.fixture
def memo():
    m = Memo(capacity=2)
    yield m
    ALL_MEMOS.remove(m)


def test_memo_evicts_least_recently_used(memo):
    built = []

    def get(key):
        return memo.get_or_build((key,), lambda: built.append(key) or key)

    get("a")
    get("b")
    assert get("a") == "a"  # a hit refreshes a: b is now the oldest
    get("c")  # over capacity: evicts b, not a
    assert len(memo) == 2
    assert built == ["a", "b", "c"]
    get("a")
    assert built == ["a", "b", "c"]
    get("b")  # evicted, so rebuilt; evicts c
    assert built == ["a", "b", "c", "b"]
    get("c")
    assert built == ["a", "b", "c", "b", "c"]


def test_memo_failed_build_releases_key(memo):
    def fail():
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError):
        memo.get_or_build(("k",), fail)
    assert len(memo) == 0
    assert memo.get_or_build(("k",), lambda: 7) == 7
    assert memo.get_or_build(("k",), lambda: 8) == 7
    assert (memo.hits, memo.misses) == (1, 1)


def test_memo_counts_hits_and_misses(memo):
    for key in ["a", "a", "b", "a", "b", "c", "a"]:
        memo.get_or_build((key,), lambda: key)
    # hits: a, a, b; misses: a, b, c (evicting a, used before b) and a
    assert (memo.hits, memo.misses) == (3, 4)
    assert memo in ALL_MEMOS
    clear_all_memos()
    assert (len(memo), memo.hits, memo.misses) == (0, 0, 0)
