"""The feed generator is a pure function of seed and size: the same
seed gives byte-identical files, another seed gives other files."""

import filecmp
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import feedgen  # noqa: E402

TAIL = feedgen.TailSize(n_addresses=50, backlog_orders=400, backlog_files=2,
                        live_files=30, orders_per_file=20)
STATEFUL = feedgen.StatefulSize(n_addresses=40, n_orders=300, files_per_source=2)


def _files(root):
    return sorted(os.path.relpath(os.path.join(d, f), root)
                  for d, _, fs in os.walk(root) for f in fs)


def _same(a, b):
    names = _files(a)
    assert names == _files(b)
    return all(filecmp.cmp(os.path.join(a, n), os.path.join(b, n), shallow=False)
               for n in names)


def test_tail_feed_is_seeded(tmp_path):
    a = feedgen.tail_feed(str(tmp_path / "a"), 7, TAIL)
    b = feedgen.tail_feed(str(tmp_path / "b"), 7, TAIL)
    c = feedgen.tail_feed(str(tmp_path / "c"), 8, TAIL)
    assert _same(a.root, b.root)
    assert open(a.backlog[0]).read() != open(c.backlog[0]).read()
    assert len(a.live) == 30


def test_stateful_feed_is_seeded(tmp_path):
    a = feedgen.stateful_feed(str(tmp_path / "a"), 7, STATEFUL)
    b = feedgen.stateful_feed(str(tmp_path / "b"), 7, STATEFUL)
    assert _same(a.root, b.root)
    assert a.n_rows == b.n_rows > STATEFUL.n_orders


def test_cache_is_reused_and_bounded(tmp_path):
    root = str(tmp_path)
    first = feedgen.tail_feed(root, 1, TAIL)
    stamp = os.path.getmtime(first.backlog[0])
    assert feedgen.tail_feed(root, 1, TAIL).root == first.root
    assert os.path.getmtime(first.backlog[0]) == stamp
    for seed in range(2, 2 + feedgen.CACHE_KEEP):
        feedgen.tail_feed(root, seed, TAIL)
    kept = sorted(os.listdir(root))
    assert len(kept) == feedgen.CACHE_KEEP
    assert os.path.basename(first.root) not in kept
