"""Seeded input generators for the benchmark workloads.

Everything the program receives is built here from ``--seed`` alone:
TSBS ``cpu-only``-shaped points (100 hosts, 10 string tags, 10 float
fields, 10 s interval), the dashboard's op sequence (query kind, host,
time window, trickle writes) and the curation corpus with planted
duplicate clusters.  Each generator's output has a digest so two runs with
one seed can be shown to carry the same load.

Field values are integers in [0, 10000] scaled by 1/100: the line-protocol
text, the bulk-load frame and the reference answers then hold the same
doubles, and sums over them differ only by summation order.
"""

from __future__ import annotations

import hashlib
import json
import random
from dataclasses import dataclass, field

import numpy as np

SEC = 1_000_000_000
TICK_NS = 10 * SEC
# 2024-01-01T00:00:00Z: a UTC midnight, so the store's day buckets start
# at the first generated point
T0_NS = 1_704_067_200 * SEC

TAGS = (
    "hostname", "region", "datacenter", "rack", "os", "arch", "team",
    "service", "service_version", "service_environment",
)
FIELDS = (
    "usage_user", "usage_system", "usage_idle", "usage_nice", "usage_iowait",
    "usage_irq", "usage_softirq", "usage_steal", "usage_guest",
    "usage_guest_nice",
)
_REGIONS = (
    "us-east-1", "us-west-1", "us-west-2", "eu-west-1", "eu-central-1",
    "ap-southeast-1", "ap-southeast-2", "ap-northeast-1", "sa-east-1",
)


def digest(obj) -> str:
    """Short stable digest of a JSON-able object or of raw bytes."""
    h = hashlib.sha256()
    if isinstance(obj, bytes):
        h.update(obj)
    else:
        h.update(json.dumps(obj, sort_keys=True, default=str).encode())
    return h.hexdigest()[:16]


# --------------------------------------------------------------------------
# TSBS cpu-only points
# --------------------------------------------------------------------------


@dataclass
class CpuFleet:
    """Hosts with fixed tag sets and one random walk per (host, field)."""

    seed: int
    n_hosts: int = 100
    tags: list[dict[str, str]] = field(init=False)
    _rng: np.random.Generator = field(init=False, repr=False)
    _level: np.ndarray = field(init=False, repr=False)

    def __post_init__(self) -> None:
        r = random.Random(self.seed)
        self.tags = []
        for h in range(self.n_hosts):
            region = r.choice(_REGIONS)
            self.tags.append({
                "hostname": f"host_{h}",
                "region": region,
                "datacenter": f"{region}{r.choice('abc')}",
                "rack": str(r.randrange(100)),
                "os": r.choice(("Ubuntu16.10", "Ubuntu16.04LTS", "Ubuntu15.10")),
                "arch": r.choice(("x86", "x64")),
                "team": r.choice(("SF", "NYC", "LON", "CHI")),
                "service": str(r.randrange(20)),
                "service_version": str(r.randrange(2)),
                "service_environment": r.choice(("production", "staging", "test")),
            })
        self._rng = np.random.default_rng(self.seed)
        self._level = self._rng.integers(
            0, 10_001, size=(self.n_hosts, len(FIELDS))
        )

    def ticks(self, n_ticks: int) -> np.ndarray:
        """Advance every walk ``n_ticks`` steps → int array
        ``(n_ticks, n_hosts, n_fields)`` of centi-percent values."""
        steps = self._rng.integers(-400, 401, size=(n_ticks, self.n_hosts, len(FIELDS)))
        out = np.empty_like(steps)
        lvl = self._level
        for i in range(n_ticks):
            lvl = np.clip(lvl + steps[i], 0, 10_000)
            out[i] = lvl
        self._level = lvl
        return out


@dataclass
class PointBlock:
    """``n_ticks × n_hosts`` points starting at ``t_start_ns``; row order is
    tick-major (all hosts of tick 0, then tick 1, ...)."""

    t_start_ns: int
    values: np.ndarray  # (n_ticks, n_hosts, n_fields) int centi-percent

    @property
    def n_ticks(self) -> int:
        return self.values.shape[0]

    @property
    def n_hosts(self) -> int:
        return self.values.shape[1]

    @property
    def n_points(self) -> int:
        return self.n_ticks * self.n_hosts

    def times(self) -> np.ndarray:
        return self.t_start_ns + np.arange(self.n_ticks, dtype=np.int64) * TICK_NS

    def lines(self, fleet: CpuFleet) -> list[str]:
        """Line protocol, one line per point, explicit ns timestamps."""
        heads = [
            "cpu," + ",".join(f"{k}={t[k]}" for k in TAGS) for t in fleet.tags
        ]
        out = []
        for i, t in enumerate(self.times().tolist()):
            for h in range(self.n_hosts):
                vals = self.values[i, h]
                body = ",".join(
                    f"{f}={v / 100}" for f, v in zip(FIELDS, vals.tolist())
                )
                out.append(f"{heads[h]} {body} {t}")
        return out

    def frame(self, fleet: CpuFleet):
        """Wide pandas frame in the store's layout (time_ns, tags, fields)."""
        import pandas as pd

        hosts = np.tile(np.arange(self.n_hosts), self.n_ticks)
        cols: dict = {"time_ns": np.repeat(self.times(), self.n_hosts)}
        for k in TAGS:
            cols[k] = np.array([t[k] for t in fleet.tags], dtype=object)[hosts]
        flat = self.values.reshape(self.n_points, len(FIELDS))
        for j, f in enumerate(FIELDS):
            cols[f] = flat[:, j] / 100
        return pd.DataFrame(cols)

    def digest(self) -> str:
        return digest(
            np.int64(self.t_start_ns).tobytes()
            + np.ascontiguousarray(self.values, dtype=np.int64).tobytes()
        )


# --------------------------------------------------------------------------
# dashboard op sequence
# --------------------------------------------------------------------------

#: op kinds of one dashboard round; every round runs each kind once, in a
#: seeded order, so a run's mix does not depend on the seed
INFLUXQL_KINDS = (
    "single_groupby", "double_groupby", "high_cpu", "lastpoint",
    "groupby_orderby_limit",
)
PROMQL_KINDS = ("prom_max_over_time", "prom_avg_by_region")
OP_KINDS = INFLUXQL_KINDS + PROMQL_KINDS + ("write",)


def op_class(kind: str) -> str:
    if kind == "write":
        return "write"
    return "promql" if kind.startswith("prom_") else "influxql"


@dataclass
class DashboardPlan:
    """Bulk-loaded history plus the dashboard's op sequence."""

    fleet: CpuFleet
    bulk: list[PointBlock]
    ops: list[dict]

    def digest(self) -> str:
        return digest({
            "tags": self.fleet.tags,
            "bulk": [b.digest() for b in self.bulk],
            "ops": [
                {k: (v.digest() if isinstance(v, PointBlock) else v)
                 for k, v in op.items()}
                for op in self.ops
            ],
        })


def _minute_floor(t_ns: int) -> int:
    return t_ns - (t_ns - T0_NS) % (60 * SEC)


def dashboard_plan(
    seed: int,
    n_hosts: int = 100,
    bulk_batches: int = 4,
    batch_minutes: int = 30,
    rounds: int = 40,
) -> DashboardPlan:
    """History of ``bulk_batches × batch_minutes`` then ``rounds`` rounds of
    ops.  Each round writes one trickle batch (one tick of every host) at
    the head of the time range; half the queries read a
    window that ends at the head, so they must see the trickle writes."""
    fleet = CpuFleet(seed, n_hosts)
    r = random.Random(seed * 7919 + 1)
    per_batch = batch_minutes * 6
    bulk = []
    t = T0_NS
    for _ in range(bulk_batches):
        bulk.append(PointBlock(t, fleet.ticks(per_batch)))
        t += per_batch * TICK_NS
    head = t - TICK_NS  # newest stored tick
    ops: list[dict] = []
    for rnd in range(rounds):
        kinds = list(OP_KINDS)
        r.shuffle(kinds)
        for kind in kinds:
            op: dict = {"kind": kind}
            # every other round of a kind reads the head window; which
            # rounds do is fixed, so runs of any seed read alike
            recent = (rnd + OP_KINDS.index(kind)) % 2 == 0
            host = f"host_{r.randrange(n_hosts)}"
            if kind == "write":
                head += TICK_NS
                block = PointBlock(head, fleet.ticks(1))
                op["block"] = block
            elif kind in INFLUXQL_KINDS:
                # minute-aligned end that covers the head tick (recent) or
                # an older one; every 1-minute bucket before it is full
                if recent:
                    end = _minute_floor(head) + 60 * SEC
                else:
                    lo = T0_NS + 60 * 60 * SEC
                    end = lo + r.randrange((_minute_floor(head) - lo) // (60 * SEC) + 1) * 60 * SEC
                op.update(host=host, end_ns=end, recent=recent)
                if kind == "double_groupby":
                    op["field"] = r.choice(FIELDS)
            else:
                # step grid offset by 5 s from the 10 s tick grid: no sample
                # sits on a range or lookback boundary, so left-open and
                # closed window rules give the same answer
                if recent:
                    end_s = head // SEC + 5
                else:
                    lo_s = T0_NS // SEC + 3600
                    end_s = lo_s + r.randrange((head // SEC - lo_s) // 60) * 60 + 5
                op.update(host=host, start_s=end_s - 1800, end_s=end_s,
                          step_s=60, recent=recent)
            op["head_ns"] = head
            ops.append(op)
    return DashboardPlan(fleet, bulk, ops)


# --------------------------------------------------------------------------
# curation corpus
# --------------------------------------------------------------------------

_STOP = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "it"),
    "de": ("der", "die", "das", "und", "ist", "ein", "nicht", "mit"),
    "fr": ("le", "la", "les", "et", "est", "un", "une", "pas"),
}
_LETTERS = {"en": "etaoinshrdlcum", "de": "enisratdhulgcm", "fr": "esaitnrulodcmp"}


@dataclass
class Corpus:
    """``rows``: (doc_id, text, lang).  ``exact_clusters``: doc-id lists that
    share one text verbatim, all of them in a kept language and of high
    quality, so curation keeps exactly one member of each."""

    rows: list[tuple[int, str, str]]
    exact_clusters: list[list[int]]
    near_clusters: list[list[int]]

    def digest(self) -> str:
        return digest({"rows": self.rows, "exact": self.exact_clusters,
                       "near": self.near_clusters})


def corpus(seed: int, n_docs: int = 4_000) -> Corpus:
    """Documents come in groups whose layout is the same for every seed;
    the seed picks the words.  Of every 20 groups one is an exact-duplicate
    cluster (2-4 verbatim copies, en or de), one a near-duplicate cluster
    (2-4 copies with one word replaced each), one a short symbol soup that
    fails the quality gate, and 17 are single documents; languages rotate
    over en/de/fr."""
    r = random.Random(seed * 104729 + 3)
    vocab = {
        lg: sorted({
            "".join(r.choice(letters) for _ in range(r.randint(5, 11)))
            for _ in range(4000)
        })
        for lg, letters in _LETTERS.items()
    }
    langs = tuple(_STOP)

    def text(lg: str) -> str:
        words = []
        for _ in range(r.randint(60, 140)):
            pool = _STOP[lg] if r.random() < 0.25 else vocab[lg]
            words.append(r.choice(pool))
        return " ".join(words)

    rows: list[tuple[int, str, str]] = []
    exact: list[list[int]] = []
    near: list[list[int]] = []
    g = 0
    while len(rows) < n_docs:
        slot, cycle = g % 20, g // 20
        lg = langs[g % 3]
        g += 1
        if slot == 2:
            rows.append((len(rows), " ".join(
                r.choice(("#", "!!", "$", "x", "@@", "%")) for _ in range(r.randint(3, 12))
            ), lg))
            continue
        if slot == 0:
            lg = ("en", "de")[cycle % 2]
        base = text(lg)
        ids = [len(rows)]
        rows.append((ids[0], base, lg))
        if slot == 0:
            for _ in range(1 + cycle % 3):
                ids.append(len(rows))
                rows.append((ids[-1], base, lg))
            exact.append(ids)
        elif slot == 1:
            words = base.split(" ")
            for _ in range(1 + cycle % 3):
                w = list(words)
                w[r.randrange(len(w))] = r.choice(vocab[lg])
                ids.append(len(rows))
                rows.append((ids[-1], " ".join(w), lg))
            near.append(ids)
    # a trailing cluster cut by the size limit would be partial
    exact = [c for c in exact if c[-1] < n_docs]
    near = [c for c in near if c[-1] < n_docs]
    return Corpus(rows[:n_docs], exact, near)
