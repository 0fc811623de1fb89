"""Determinism of the benchmark's inputs: run with
``python -m pytest perfbench/test_gen.py``."""

from __future__ import annotations

import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import corpus  # noqa: E402
import gen  # noqa: E402

SMALL = gen.Sizes(posts=2_000, accounts=300, max_votes_per_post=3, follows=300, reblogs=100,
                  history=200, rounds=3, new_posts=60, votes=600, rewards=40, follow_ops=40,
                  reblog_ops=20, deletes=3)


def _hash_tree(h, root: str) -> None:
    for dirpath, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            h.update(os.path.relpath(os.path.join(dirpath, f), root).encode())
            with open(os.path.join(dirpath, f), "rb") as fh:
                h.update(fh.read())


def _digest(seed: int, tmp_path) -> str:
    """Hash of every byte the generators hand the engine for ``seed``."""
    st = gen.seed_state(seed, gen.FIXED_ANCHOR, SMALL)
    out = tmp_path / f"seed{seed}-{len(os.listdir(tmp_path))}"
    gen.write_round_files(gen.op_log(seed, st, SMALL), str(out / "oplog"))
    corpus.write(seed, 0.001, str(out / "corpus"))
    h = hashlib.sha256()
    for name in sorted(st.tables):
        h.update(name.encode())
        h.update(repr(st.tables[name]).encode())
    _hash_tree(h, str(out))
    return h.hexdigest()


def test_same_seed_gives_identical_inputs(tmp_path):
    assert _digest(7, tmp_path) == _digest(7, tmp_path)


def test_different_seed_gives_different_inputs(tmp_path):
    assert _digest(7, tmp_path) != _digest(8, tmp_path)


def test_tally_counts_every_round():
    st = gen.seed_state(3, gen.FIXED_ANCHOR, SMALL)
    rounds = gen.op_log(3, st, SMALL)
    tally = gen.Tally.from_seed(st)
    before = len(tally.posts)
    for rd in rounds:
        tally.apply_l2(rd)
        tally.apply_l1(rd)
    created = SMALL.rounds * SMALL.new_posts
    deleted = SMALL.rounds * SMALL.deletes
    assert len(tally.posts) == before + created - deleted
    assert len(tally.fresh) == SMALL.rounds
    assert tally.last_l2_block == max(tx["blockNumber"] for tx in rounds[-1].l2)
    assert tally.last_l1_block == max(op["block_num"] for op in rounds[-1].l1)
