"""Seeded inputs for the benchmark: a seed state, an op log and its tally.

Everything here is plain Python driven by one ``random.Random(seed)``, so
the same ``(seed, anchor)`` yields byte-identical files. Nothing imports
Spark; ``run.py`` turns the rows into DataFrames.

The seed state holds ``posts`` rows over four tokens plus the seven other
state tables. The op log is a list of rounds; a round is one L2 block range
(new comments, Zipf-hot votes and vote updates, author and curation rewards,
a promotion and a mute) followed by one L1 block range (the new posts'
bodies, replies up to depth 9, follows, reblogs and a few deletes). L1
timestamps stay below the round's last L2 timestamp, so no op is parked by
the runner's alignment gate.

``Tally`` folds the same rounds in plain Python: it is the expected final
state the benchmark checks the engine against.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass, field
from datetime import datetime, timedelta

TOKENS = ("ALPHA", "BRAVO", "CHARLIE", "DELTA")
TAGS = tuple(f"tag{i}" for i in range(40))
EPOCH = datetime(1970, 1, 1)
# the ingest workload's fixed clock; serve anchors to the run's UTC day
# because the served discussion pages filter on the wall clock
FIXED_ANCHOR = datetime(2024, 3, 1)
L1_BLOCK0 = 80_000_000
L2_BLOCK0 = 40_000_000
L2_BLOCKS_PER_ROUND = 20
L1_BLOCKS_PER_ROUND = 20


@dataclass(frozen=True)
class Sizes:
    posts: int
    accounts: int
    max_votes_per_post: int
    follows: int
    reblogs: int
    history: int
    rounds: int
    # per round
    new_posts: int
    votes: int
    rewards: int
    follow_ops: int
    reblog_ops: int
    deletes: int


# the benchmark's one size: the seed state both workloads start from and
# the single block range ``ingest`` replays
SIZES = Sizes(posts=5_000, accounts=4_000, max_votes_per_post=3, follows=3_000,
              reblogs=1_000, history=5_000, rounds=1, new_posts=60, votes=600,
              rewards=40, follow_ops=40, reblog_ops=20, deletes=3)


def _zipf_index(rng: random.Random, n: int, s: float = 1.1) -> int:
    """Zipf-like rank in [0, n): inverse-CDF draw of a bounded power law."""
    u = rng.random()
    # continuous approximation of P(k) ~ k^-s on [1, n+1)
    a = 1.0 - s
    if abs(a) < 1e-9:
        k = (n + 1) ** u
    else:
        k = ((((n + 1) ** a) - 1.0) * u + 1.0) ** (1.0 / a)
    return min(int(k) - 1, n - 1)


def _ts(t: datetime) -> str:
    return t.strftime("%Y-%m-%dT%H:%M:%S")


@dataclass
class SeedState:
    """Row tuples per state table, in ``schemas.STATE_TABLES`` column order.
    Decimal columns are carried as ints and cast by the loader."""

    tables: dict[str, list[tuple]]
    # disjoint pools the op log draws from, as (authorperm, token) or authorperm
    hot_posts: list[tuple[str, str]]
    reward_posts: list[tuple[str, str]]
    delete_posts: list[tuple[str, str]]
    reply_parents: list[str]
    reblog_targets: list[str]
    votes: dict[tuple[str, str, str], int]
    anchor: datetime


def seed_state(seed: int, anchor: datetime, sizes: Sizes = SIZES) -> SeedState:
    rng = random.Random(seed)
    n = sizes.posts
    span = timedelta(days=19)
    start = anchor - timedelta(days=20)
    accounts = [f"a{i}" for i in range(sizes.accounts)]

    posts, meta, votes_rows = [], [], []
    votes: dict[tuple[str, str, str], int] = {}
    depth_of: list[int] = []
    children = [0] * n
    parent_of: list[int | None] = []
    aps: list[str] = []
    for i in range(n):
        author = accounts[_zipf_index(rng, sizes.accounts, 1.05)]
        ap = f"@{author}/p{i}"
        aps.append(ap)
        token = TOKENS[i % len(TOKENS)]
        parent = None
        # ~20% replies to an earlier post of the same token, depth <= 8
        if i >= 64 and rng.random() < 0.2:
            cand = i - len(TOKENS) * rng.randint(1, 16)
            if depth_of[cand] < 8:
                parent = cand
        parent_of.append(parent)
        depth_of.append(0 if parent is None else depth_of[parent] + 1)
        if parent is not None:
            children[parent] += 1
    for i in range(n):
        ap = aps[i]
        author = ap[1:ap.index("/")]
        token = TOKENS[i % len(TOKENS)]
        created = start + span * (i / n)
        parent = parent_of[i]
        tags = sorted({TAGS[_zipf_index(rng, len(TAGS))] for _ in range(rng.randint(1, 3))})
        vote_total = 0
        voters = rng.sample(accounts, rng.randint(0, sizes.max_votes_per_post))
        for v in voters:
            r = rng.randint(-200, 1_000_000)
            votes[(ap, token, v)] = r
            vote_total += r
            votes_rows.append((ap, v, created + timedelta(hours=1), token, r, 10000))
        if parent is None:
            pa, pp = "", tags[0]
            p_ap, url = None, f"/{tags[0]}/{ap}"
        else:
            pap = aps[parent]
            pa, pp = pap[1:pap.index("/")], pap[pap.index("/") + 1:]
            p_ap, url = pap, f"/{tags[0]}/{aps[parent]}"
        payout = rng.randint(0, 50) if rng.random() < 0.5 else 0
        posts.append((
            ap, author, created, ",".join(tags), "bench/1", parent is None, False,
            token, vote_total, created + timedelta(days=7), EPOCH, payout, 0,
            float(vote_total) / 1e6, float(vote_total) / 1e5, 0, 0, f"t{i}",
            f"d{i}", children[i], pa, pp, 0.0, False,
        ))
        meta.append((
            ap, f"body of post {i} " + "x" * (i % 64),
            json.dumps({"tags": tags, "app": "bench/1"}), ",".join(tags),
            children[i], p_ap, url, depth_of[i],
        ))

    acct_rows = {}
    for i, row in enumerate(posts):
        key = (row[1], row[7])
        last = acct_rows.get(key)
        if last is None or last < row[2]:
            acct_rows[key] = row[2]
    accounts_rows = [(name, sym, t, t, False, None) for (name, sym), t in sorted(acct_rows.items())]

    follows = {}
    while len(follows) < sizes.follows:
        a = accounts[_zipf_index(rng, sizes.accounts)]
        b = accounts[_zipf_index(rng, sizes.accounts)]
        if a != b:
            follows[(a, b)] = 1 if rng.random() < 0.9 else 2
    follows_rows = [(a, b, s) for (a, b), s in sorted(follows.items())]

    main_idx = [i for i in range(n) if parent_of[i] is None]
    reblogs = {}
    while len(reblogs) < sizes.reblogs:
        i = main_idx[rng.randrange(len(main_idx))]
        a = accounts[_zipf_index(rng, sizes.accounts)]
        reblogs[(a, aps[i])] = posts[i][2] + timedelta(hours=2)
    reblogs_rows = [(a, ap, t) for (a, ap), t in sorted(reblogs.items())]

    history_rows = []
    for h in range(sizes.history):
        i = rng.randrange(n)
        history_rows.append((
            h + 1, accounts[_zipf_index(rng, sizes.accounts)], TOKENS[i % len(TOKENS)],
            posts[i][2] + timedelta(days=1), rng.randint(1, 100), f"seedtx{h}",
            "curation_reward" if h % 3 else "author_reward", aps[i],
        ))

    token_config = [
        (tok, 7, 50, 1, 1, 10, "bene", f"promo{k}", k + 1, f"{tok.lower()}.pay", 5, 5, False, False)
        for k, tok in enumerate(TOKENS)
    ]
    configuration = [
        (1, L1_BLOCK0, start + span, None, None, "HIVED"),
        (2, None, None, L2_BLOCK0, start + span, "ENGINE_SIDECHAIN"),
    ]

    # op-log pools, disjoint so each expected value has one cause:
    # reward targets are never voted on, delete targets are leaf replies
    # nobody votes on, replies to or reblogs
    leaves = [i for i in range(n // 4, n // 2) if parent_of[i] is not None and children[i] == 0]
    delete_idx = leaves[: sizes.rounds * sizes.deletes]
    reserved = set(delete_idx)
    reward_idx = [i for i in range(n // 4) if i not in reserved][: sizes.rounds * sizes.rewards]
    hot_idx = [i for i in range(n - n // 8, n)]
    reply_idx = [i for i in range(n // 2, n - n // 8) if depth_of[i] <= 8][:5000]
    reblog_idx = [i for i in main_idx if n // 2 <= i][:5000]
    tok = lambda i: TOKENS[i % len(TOKENS)]  # noqa: E731
    return SeedState(
        tables={
            "posts": posts,
            "post_metadata": meta,
            "votes": votes_rows,
            "accounts": accounts_rows,
            "follows": follows_rows,
            "reblogs": reblogs_rows,
            "account_history": history_rows,
            "token_config": token_config,
            "configuration": configuration,
        },
        hot_posts=[(aps[i], tok(i)) for i in reversed(hot_idx)],
        reward_posts=[(aps[i], tok(i)) for i in reward_idx],
        delete_posts=[(aps[i], tok(i)) for i in delete_idx],
        reply_parents=[aps[i] for i in reply_idx],
        reblog_targets=[aps[i] for i in reblog_idx],
        votes=votes,
        anchor=anchor,
    )


@dataclass
class Round:
    """One block range: the L2 transactions, then the L1 ops."""

    l2: list[dict]
    l1: list[dict]
    # one post voted in this round, read back through get_post after commit
    probe: tuple[str, str]


def _l2_tx(block, tx_seq, ts, contract, action, sender, payload, events):
    return {
        "blockNumber": block, "timestamp": _ts(ts), "tx_seq": tx_seq,
        "contract": contract, "action": action, "sender": sender,
        "transactionId": f"tx{block}-{tx_seq}",
        "payload": json.dumps(payload, sort_keys=True),
        "logs": json.dumps({"events": events}, sort_keys=True),
    }


def _l1_op(block, op_seq, ts, typ, **kw):
    op = {"block_num": block, "op_seq": op_seq, "timestamp": _ts(ts), "type": typ}
    op.update(kw)
    return op


def op_log(seed: int, state: SeedState, sizes: Sizes = SIZES) -> list[Round]:
    rng = random.Random(seed * 7919 + 1)
    accounts = [f"a{i}" for i in range(sizes.accounts)]
    t0 = state.anchor - timedelta(hours=12)
    hot = list(state.hot_posts)
    voted = {k for k in state.votes}
    rounds = []
    for r in range(sizes.rounds):
        l2: list[dict] = []
        b2 = L2_BLOCK0 + r * L2_BLOCKS_PER_ROUND + 1
        ts2 = t0 + timedelta(minutes=r)
        new_posts = []
        txs: list[tuple] = []
        for k in range(sizes.new_posts):
            author = accounts[_zipf_index(rng, sizes.accounts, 1.05)]
            token = TOKENS[rng.randrange(len(TOKENS))]
            permlink = f"r{r}n{k}"
            new_posts.append((f"@{author}/{permlink}", token, author, permlink))
            txs.append(("comments", "comment", author, {"author": author, "permlink": permlink},
                        [{"contract": "comments", "event": "newComment", "data": {"symbol": token}}]))
        probe = None
        for _ in range(sizes.votes):
            ap, token = hot[_zipf_index(rng, len(hot), 1.2)]
            author, permlink = ap[1:ap.index("/")], ap[ap.index("/") + 1:]
            voter = accounts[_zipf_index(rng, sizes.accounts)]
            key = (ap, token, voter)
            event = "updateVote" if key in voted else "newVote"
            voted.add(key)
            rshares = rng.randint(-1000, 2_000_000)
            probe = probe or (ap, token)
            txs.append(("comments", "vote", voter,
                        {"author": author, "permlink": permlink, "voter": voter, "weight": 10000},
                        [{"contract": "comments", "event": event,
                          "data": {"symbol": token, "rshares": str(rshares)}}]))
        for k in range(sizes.rewards):
            ap, token = state.reward_posts[r * sizes.rewards + k]
            author = ap[1:ap.index("/")]
            curator = accounts[_zipf_index(rng, sizes.accounts)]
            txs.append(("comments", "payout", "null", {"authorperm": ap}, [
                {"contract": "comments", "event": "authorReward",
                 "data": {"symbol": token, "authorperm": ap, "account": author,
                          "quantity": str(rng.randint(1, 500))}},
                {"contract": "comments", "event": "curationReward",
                 "data": {"symbol": token, "authorperm": ap, "account": curator,
                          "quantity": str(rng.randint(1, 200))}},
            ]))
        pap, ptok = hot[rng.randrange(len(hot))]
        txs.append(("tokens", "transfer", accounts[rng.randrange(sizes.accounts)],
                    {"symbol": ptok, "to": f"promo{TOKENS.index(ptok)}",
                     "quantity": str(rng.randint(1, 20)), "memo": pap}, []))
        txs.append(("comments", "setMute", "null",
                    {"account": accounts[sizes.accounts - 1 - r], "mute": True,
                     "rewardPoolId": 1 + (r % len(TOKENS))}, []))
        per_block = -(-len(txs) // L2_BLOCKS_PER_ROUND)
        for j, (contract, action, sender, payload, events) in enumerate(txs):
            blk = b2 + j // per_block
            l2.append(_l2_tx(blk, j % per_block, ts2 + timedelta(seconds=3 * (j // per_block)),
                             contract, action, sender, payload, events))

        # L1: strictly before this round's first L2 timestamp, so the
        # alignment gate (L1 ts < L2 checkpoint ts) admits every op
        l1: list[dict] = []
        b1 = L1_BLOCK0 + r * L1_BLOCKS_PER_ROUND + 1
        ts1 = ts2 - timedelta(seconds=30)
        ops: list[tuple] = []
        for ap, token, author, permlink in new_posts:
            tags = sorted({TAGS[_zipf_index(rng, len(TAGS))] for _ in range(rng.randint(1, 3))})
            if rng.random() < 0.4:
                pap = state.reply_parents[rng.randrange(len(state.reply_parents))]
                pa, pp = pap[1:pap.index("/")], pap[pap.index("/") + 1:]
            else:
                pa, pp = "", tags[0]
            ops.append(("comment", dict(
                author=author, permlink=permlink, parent_author=pa, parent_permlink=pp,
                title=f"title {permlink}", body=f"body {permlink} " + "y" * rng.randrange(200),
                json_metadata=json.dumps({"tags": tags, "app": "bench/1"}),
            )))
        for _ in range(sizes.follow_ops):
            a = accounts[_zipf_index(rng, sizes.accounts)]
            b = accounts[_zipf_index(rng, sizes.accounts)]
            what = ["blog"] if rng.random() < 0.8 else []
            ops.append(("custom_json", dict(
                id="follow", required_posting_auths=[a],
                json=json.dumps(["follow", {"follower": a, "following": b, "what": what}]),
            )))
        for _ in range(sizes.reblog_ops):
            a = accounts[_zipf_index(rng, sizes.accounts)]
            tap = state.reblog_targets[rng.randrange(len(state.reblog_targets))]
            ops.append(("custom_json", dict(
                id="follow", required_posting_auths=[a],
                json=json.dumps(["reblog", {"account": a, "author": tap[1:tap.index("/")],
                                            "permlink": tap[tap.index("/") + 1:]}]),
            )))
        for k in range(sizes.deletes):
            dap, _ = state.delete_posts[r * sizes.deletes + k]
            ops.append(("delete_comment", dict(author=dap[1:dap.index("/")],
                                               permlink=dap[dap.index("/") + 1:])))
        per_block = -(-len(ops) // L1_BLOCKS_PER_ROUND)
        for j, (typ, kw) in enumerate(ops):
            blk = b1 + j // per_block
            l1.append(_l1_op(blk, j % per_block, ts1 + timedelta(seconds=j // per_block), typ, **kw))
        rounds.append(Round(l2=l2, l1=l1, probe=probe))
    return rounds


def write_round_files(rounds: list[Round], root: str) -> list[tuple[str, str]]:
    """One JSON-lines file per block range and stream; returns the paths."""
    out = []
    for r, rd in enumerate(rounds):
        paths = []
        for which, rows in (("l2", rd.l2), ("l1", rd.l1)):
            d = os.path.join(root, which, f"range{r:03d}")
            os.makedirs(d, exist_ok=True)
            p = os.path.join(d, "part.json")
            with open(p, "w") as f:
                f.write("\n".join(json.dumps(row, sort_keys=True) for row in rows) + "\n")
            paths.append(d)
        out.append((paths[0], paths[1]))
    return out


@dataclass
class Tally:
    """Expected state, folded op by op in the engine's per-batch order."""

    posts: dict[tuple[str, str], list]  # (ap, token) -> [vote_rshares, children]
    votes: dict[tuple[str, str, str], int]
    follows: dict[tuple[str, str], int]
    reblogs: set
    history_rows: int
    last_l1_block: int
    last_l2_block: int
    fresh: list[int] = field(default_factory=list)

    @classmethod
    def from_seed(cls, state: SeedState) -> "Tally":
        t = state.tables
        return cls(
            posts={(p[0], p[7]): [p[8], p[19]] for p in t["posts"]},
            votes=dict(state.votes),
            follows={(a, b): s for a, b, s in t["follows"]},
            reblogs={(a, ap) for a, ap, _ in t["reblogs"]},
            history_rows=len(t["account_history"]),
            last_l1_block=L1_BLOCK0,
            last_l2_block=L2_BLOCK0,
        )

    def apply_l2(self, rd: Round) -> None:
        # engine order within a batch: new comments, votes, rewards
        evs = [(tx, json.loads(tx["logs"])["events"], json.loads(tx["payload"])) for tx in rd.l2]
        for tx, events, payload in evs:
            for ev in events:
                if ev["event"] == "newComment":
                    key = (f"@{payload['author']}/{payload['permlink']}", ev["data"]["symbol"])
                    self.posts.setdefault(key, [0, 0])
        for tx, events, payload in evs:
            for ev in events:
                if ev["event"] in ("newVote", "updateVote"):
                    ap = f"@{payload['author']}/{payload['permlink']}"
                    key = (ap, ev["data"]["symbol"], payload["voter"])
                    new = int(ev["data"]["rshares"])
                    old = self.votes.get(key, 0)
                    self.votes[key] = new
                    if (ap, key[1]) in self.posts:
                        self.posts[(ap, key[1])][0] += new - old
        for tx, events, payload in evs:
            for ev in events:
                if ev["event"] in ("authorReward", "curationReward"):
                    d = ev["data"]
                    if int(d["quantity"]) > 0:
                        self.history_rows += 1
                    if ev["event"] == "authorReward" and (d["authorperm"], d["symbol"]) in self.posts:
                        self.posts[(d["authorperm"], d["symbol"])][0] = 0
        self.last_l2_block = max(self.last_l2_block, max(tx["blockNumber"] for tx in rd.l2))
        self.fresh.append(self.posts[rd.probe][0])

    def apply_l1(self, rd: Round) -> None:
        by_ap = {}
        for key in self.posts:
            by_ap.setdefault(key[0], []).append(key)
        for op in rd.l1:
            if op["type"] == "comment":
                ap = f"@{op['author']}/{op['permlink']}"
                if op["parent_author"] and ap in by_ap:
                    pap = f"@{op['parent_author']}/{op['parent_permlink']}"
                    for key in by_ap.get(pap, []):
                        self.posts[key][1] += 1
            elif op["type"] == "custom_json":
                kind, body = json.loads(op["json"])
                if kind == "follow":
                    self.follows[(body["follower"], body["following"])] = 1 if body["what"] == ["blog"] else 0
                else:
                    self.reblogs.add((body["account"], f"@{body['author']}/{body['permlink']}"))
            elif op["type"] == "delete_comment":
                ap = f"@{op['author']}/{op['permlink']}"
                for key in by_ap.pop(ap, []):
                    del self.posts[key]
        self.last_l1_block = max(self.last_l1_block, max(op["block_num"] for op in rd.l1))

    def posts_per_token(self) -> dict[str, int]:
        out: dict[str, int] = {}
        for _, tok in self.posts:
            out[tok] = out.get(tok, 0) + 1
        return out
