"""Pure helpers of the benchmark: summary statistics, result hashing and
the player-store model. Nothing here imports Spark, so the unit tests in
``test_perfbench.py`` run without a session.
"""

from __future__ import annotations

import hashlib
import json

# A tail percentile needs at least this many samples beyond it.
TAIL_BEYOND = 10


def ratio(num: float, base: float) -> float:
    """``num / base``; a ratio with a base that is not positive is a bug
    in the caller, not a value to report."""
    if base <= 0:
        raise ValueError(f"ratio base must be positive, got {base!r}")
    return num / base


def tail(samples: list[float]) -> tuple[float, float, int] | None:
    """The highest percentile with at least ``TAIL_BEYOND`` samples above
    it, as ``(value, percentile, n)``.

    By nearest rank, the k-th smallest of n samples has n - k samples
    beyond it, so the tail is the (n - 10)-th smallest: p90 at n = 100.
    When that rank is not above the median (n <= 20) there is no tail to
    tell apart from the middle, and the result is None.
    """
    n = len(samples)
    if n == 0:
        raise ValueError("tail of no samples")
    k = n - TAIL_BEYOND
    if 2 * k <= n:
        return None
    return sorted(samples)[k - 1], 100.0 * k / n, n


def frame_hash(pdf) -> str:
    """Order-insensitive hash of a pandas frame: column names and dtypes,
    then the rows canonicalized the way the DuckDB differ compares them
    (``tests/differ.canonical_rows``), so a pinned hash and an oracle
    check agree on what "the same result" means."""
    from tests.differ import canonical_rows

    cols = sorted((str(c), str(pdf[c].dtype)) for c in pdf.columns)
    body = json.dumps({"columns": cols, "rows": canonical_rows(pdf)}, ensure_ascii=False)
    return hashlib.sha256(body.encode()).hexdigest()


class PlayerModel:
    """What a ``PlayerStore`` must answer after each command: the live
    players by id, with the store's id assignment (max id in the log + 1,
    starting at 1) and last-write-wins/tombstone semantics."""

    def __init__(self) -> None:
        self.live: dict[int, tuple[str, str]] = {}
        self._max_id = 0

    def create(self, first: str, last: str, assigned: int) -> bool:
        expected = self._max_id + 1
        self._max_id = max(self._max_id, assigned)
        self.live[assigned] = (first, last)
        return assigned == expected

    def update(self, pid: int, first: str, last: str) -> None:
        self._max_id = max(self._max_id, pid)
        self.live[pid] = (first, last)

    def delete(self, pid: int) -> None:
        self._max_id = max(self._max_id, pid)
        self.live.pop(pid, None)

    def check_get(self, pid: int, row) -> bool:
        want = self.live.get(pid)
        if row is None:
            return want is None
        return want is not None and (row["id"], row["firstName"], row["lastName"]) == (pid, *want)

    def check_find_all(self, rows) -> bool:
        got = sorted((r["id"], r["firstName"], r["lastName"]) for r in rows)
        return got == sorted((pid, f, l) for pid, (f, l) in self.live.items())

    def ids(self) -> list[int]:
        return sorted(self.live)

    @property
    def max_id(self) -> int:
        return self._max_id


WRITES = ("create", "update", "delete")
READS = ("get", "find_all")


# One pass of the mix: OPENING_CREATES creates, then the rest of PASS_MIX
# in a seeded order. Fixed counts keep the write/read balance, and with it
# the pass wall, the same for every seed: 14 writes and 10 reads. Reads are
# the faster kind, and the first create (on an empty log) the fastest
# write, so the median of a pass lies between the second and third
# fastest writes, not in the gap between the kinds. Deletes stay fewer
# than the opening creates, so an update or a delete always finds a live
# id.
OPENING_CREATES = 4
PASS_MIX = {"create": 3, "update": 5, "delete": 2, "get": 7, "find_all": 3}


# Set-up's warm-up: every kind once after the opening creates.
WARM_UP = ("create",) * OPENING_CREATES + ("update", "get", "find_all", "delete")


def player_schedule(rng) -> list[str]:
    """The kinds of one pass, in a seeded order."""
    rest = [kind for kind, n in PASS_MIX.items() for _ in range(n)]
    rng.shuffle(rest)
    return ["create"] * OPENING_CREATES + rest


def next_player_op(rng, model: PlayerModel, kind: str) -> tuple:
    """A seeded operation of ``kind``: updates and deletes hit live ids,
    gets spread over live, deleted and never-assigned ids."""
    name = (f"F{rng.randrange(1000)}", f"L{rng.randrange(1000)}")
    if kind == "create":
        return ("create", *name)
    if kind == "update":
        return ("update", rng.choice(model.ids()), *name)
    if kind == "delete":
        return ("delete", rng.choice(model.ids()))
    if kind == "get":
        return ("get", rng.randint(1, model.max_id + 1))
    return ("find_all",)


def apply_player_op(store, op: tuple):
    """Run one op against a ``PlayerStore``; the caller times this call."""
    kind, *args = op
    return getattr(store, kind)(*args)


def check_player_op(model: PlayerModel, op: tuple, result) -> bool:
    """Advance the model by ``op`` and say whether ``result`` is right."""
    kind, *args = op
    if kind == "create":
        return model.create(*args, assigned=result)
    if kind == "update":
        model.update(*args)
        return result is None
    if kind == "delete":
        model.delete(*args)
        return result is None
    if kind == "get":
        return model.check_get(args[0], result)
    return model.check_find_all(result)
