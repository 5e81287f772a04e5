"""Seeded QueryInfo landing dirs for the ``landing_deep`` workload.

Documents are built with the fixture builders in ``tests/queryinfo_fixtures``
(imported, never edited), so the benchmark feeds the extractor the same
document shape the test suite pins. The same seed gives a byte-identical
landing dir: documents are serialised with a fixed key order and gzipped
with a zero mtime and no embedded file name.

Every corpus carries a fixed share of documents the product path must drop,
so the kept counts are known by construction:

* ``nonjson``  - not JSON at all (skipped by ``extract_queryinfo``);
* ``nostats``  - a QueryInfo without ``queryStats`` (skipped by extract);
* ``internal`` - a varada-internal query (skipped by extract);
* ``failed``   - state FAILED (kept by extract, dropped by ``build_silver``).
"""

from __future__ import annotations

import gzip
import hashlib
import json
import os
import random
import sys
from dataclasses import dataclass

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(_REPO, "tests"))

import queryinfo_fixtures as QF  # noqa: E402


@dataclass(frozen=True)
class Landing:
    """A written landing dir and what the product path must make of it."""

    path: str
    docs_in: int
    docs_kept: int  # rows extract_queryinfo keeps (FAILED included)
    queries: int  # rows build_silver keeps (FAILED dropped)
    sha256: str
    bytes: int


def _drop_plan(rng: random.Random, n: int) -> list[str]:
    """Per-document kind: 2% each of the extract-time drops, 4% FAILED,
    and at least one of each however small the corpus."""
    kinds = (
        ["nonjson"] * max(1, n // 50)
        + ["nostats"] * max(1, n // 50)
        + ["internal"] * max(1, n // 50)
        + ["failed"] * max(1, n // 25)
    )
    kinds += ["ok"] * (n - len(kinds))
    rng.shuffle(kinds)
    return kinds


def _query_id(rng: random.Random, i: int) -> str:
    day = 1 + rng.randrange(7)
    hh, mm, ss = rng.randrange(24), rng.randrange(60), rng.randrange(60)
    return f"202402{day:02d}_{hh:02d}{mm:02d}{ss:02d}_{i:05d}_{rng.randrange(36**5):07x}"


def _ms(rng: random.Random, hi: float) -> str:
    return f"{rng.uniform(0.0, hi):.3f}ms"


def _skewed_user(rng: random.Random) -> str:
    # one heavy user, a handful of regulars and a long tail, like wide_corpus()
    r = rng.random()
    if r < 0.5:
        return "user_0"
    if r < 0.85:
        return f"user_{1 + rng.randrange(9)}"
    return f"user_{10 + rng.randrange(35)}"


def _stats(rng: random.Random, operators: list[dict]) -> dict:
    return {
        "elapsedTime": f"{rng.uniform(0.05, 90):.3f}s",
        "totalCpuTime": f"{rng.uniform(0.01, 600):.3f}s",
        "totalScheduledTime": f"{rng.uniform(0.01, 40):.3f}m",
        "totalBlockedTime": f"{rng.uniform(0, 30):.3f}s",
        "rawInputDataSize": f"{rng.uniform(0.001, 20):.3f}GB",
        "outputDataSize": f"{rng.uniform(0.001, 5):.3f}MB",
        "rawInputPositions": rng.randrange(1, 10**7),
        "outputPositions": rng.randrange(1, 10**4),
        "peakTotalMemoryReservation": f"{rng.uniform(0.01, 9):.3f}GB",
        "operatorSummaries": operators,
    }


def _op(rng: random.Random, node_id: str, op_type: str) -> dict:
    in_rows = rng.randrange(1, 10**6)
    return QF.make_op(
        node_id,
        op_type,
        rawInputPositions=in_rows,
        inputPositions=in_rows,
        outputPositions=rng.randrange(0, in_rows + 1),
        rawInputDataSize=f"{rng.uniform(0.01, 500):.3f}MB",
        inputDataSize=f"{rng.uniform(0.01, 500):.3f}MB",
        outputDataSize=f"{rng.uniform(0.01, 50):.3f}MB",
        addInputWall=_ms(rng, 2000),
        getOutputWall=_ms(rng, 800),
        finishWall=_ms(rng, 50),
        blockedWall=_ms(rng, 300),
        addInputCpu=_ms(rng, 1500),
        getOutputCpu=_ms(rng, 600),
        finishCpu=_ms(rng, 40),
        peakTotalMemoryReservation=f"{rng.uniform(0.1, 900):.3f}MB",
    )


def _finish(doc: dict, kind: str) -> dict:
    if kind == "nostats":
        del doc["queryStats"]
    return doc


_JOIN_OPS = ("LookupJoinOperator", "HashBuilderOperator")
_OTHER_OPS = (
    "ScanFilterAndProjectOperator",
    "FilterAndProjectOperator",
    "HashAggregationOperator",
    "ExchangeOperator",
    "PartitionedOutputOperator",
    "TaskOutputOperator",
)


def _plan(rng: random.Random, budget: list[int], next_id: list[int], depth: int) -> dict:
    """Random plan subtree: joins, multi-source exchanges, filters, scans."""
    node_id = str(next_id[0])
    next_id[0] += 1
    budget[0] -= 1
    if budget[0] <= 0 or depth > 12:
        table = QF.hive_table(f"s{rng.randrange(8)}", f"t{rng.randrange(60)}")
        return QF.scan_node(node_id, table)
    r = rng.random()
    if r < 0.3:
        return {
            "@type": "join",
            "id": node_id,
            "criteria": [{"left": "k", "right": "k"}] * rng.randrange(0, 3),
            "type": rng.choice(["INNER", "LEFT", "INNER", "RIGHT"]),
            "distributionType": rng.choice(["PARTITIONED", "REPLICATED"]),
            "left": _plan(rng, budget, next_id, depth + 1),
            "right": _plan(rng, budget, next_id, depth + 1),
        }
    if r < 0.5:
        return {
            "@type": "exchange",
            "id": node_id,
            "sources": [_plan(rng, budget, next_id, depth + 1) for _ in range(1 + rng.randrange(2))],
        }
    kind = rng.choice(["filter", "project", "aggregation", "sort", "limit"])
    return {"@type": kind, "id": node_id, "source": _plan(rng, budget, next_id, depth + 1)}


_TASK_STATS_PAD = {
    # fields a real TaskStats carries that the summarizer ignores; they make
    # the document the size and parse cost of a collector download
    "createTime": "2024-02-01T00:00:00.000Z",
    "firstStartTime": "2024-02-01T00:00:00.100Z",
    "endTime": "2024-02-01T00:00:09.100Z",
    "queuedTime": "1.20ms",
    "totalDrivers": 8,
    "completedDrivers": 8,
    "peakUserMemoryReservation": "1.2MB",
    "physicalInputDataSize": "3.1MB",
    "physicalInputPositions": 120000,
    "processedInputDataSize": "2.9MB",
    "processedInputPositions": 118000,
    "outputDataSize": "1.1MB",
    "outputPositions": 5000,
}


def _stage(rng: random.Random, qid: str, path: str, level: int, tasks_left: list[int],
           node_budget: int, next_id: list[int]) -> dict:
    n_children = 0 if level >= 3 else 1 + rng.randrange(2)
    n_tasks = max(1, min(tasks_left[0], rng.randrange(20, 80)))
    tasks_left[0] -= n_tasks
    tasks = []
    for t in range(n_tasks):
        stats = dict(_TASK_STATS_PAD)
        stats.update(
            totalScheduledTime=f"{rng.uniform(0.1, 9000):.2f}ms",
            totalCpuTime=f"{rng.uniform(0.1, 6000):.2f}ms",
            totalBlockedTime=f"{rng.uniform(0.0, 3000):.2f}ms",
        )
        tasks.append(
            {
                "taskStatus": {
                    "taskId": f"{qid}.{path}.{t}",
                    "state": "FINISHED",
                    "self": f"http://worker-{rng.randrange(64)}:8080/v1/task/{qid}.{path}.{t}",
                    "nodeId": f"worker-{rng.randrange(64)}",
                },
                "stats": stats,
            }
        )
    budget = [node_budget]
    stage = {
        "stageId": f"{qid}.{path}",
        "state": "FINISHED",
        "plan": {"id": path, "root": _plan(rng, budget, next_id, 0)},
        "tasks": tasks,
        "subStages": [],
    }
    stage["subStages"] = [
        _stage(rng, qid, f"{path}{c}", level + 1, tasks_left, node_budget, next_id)
        for c in range(n_children)
    ]
    return stage


def deep_doc(rng: random.Random, i: int, kind: str) -> dict:
    """~200 KB: 4-level stage tree, ~50 plan nodes, 20-80 operators, ~450 tasks."""
    qid = _query_id(rng, i)
    n_ops = rng.randrange(20, 81)
    ops = [
        _op(rng, str(rng.randrange(50)), rng.choice(_JOIN_OPS + _OTHER_OPS))
        for _ in range(n_ops)
    ]
    doc = QF.make_queryinfo(
        qid,
        user=_skewed_user(rng),
        state="FAILED" if kind == "failed" else "FINISHED",
        update=rng.choice([None, None, "INSERT"]),
        query="SELECT ... FROM fact f JOIN dim d ON f.k = d.k " * 4,
        stats_over=_stats(rng, ops),
        operators=ops,
        internal=kind == "internal",
        error_code={"code": 131075, "name": "EXCEEDED_MEMORY_LIMIT"} if kind == "failed" else None,
    )
    tasks_left = [rng.randrange(380, 520)]
    doc["outputStage"] = _stage(rng, qid, "0", 0, tasks_left, 5, [0])
    return _finish(doc, kind)


def _encode(doc: dict, kind: str) -> bytes:
    raw = json.dumps(doc, separators=(",", ":")).encode()
    if kind == "nonjson":
        # a download cut short: text, but not a JSON document
        return raw[: len(raw) // 2]
    return raw


def write_landing(path: str, seed: int, n: int) -> Landing:
    """Write ``n`` gzipped documents made by ``deep_doc`` into ``path``."""
    rng = random.Random(seed)
    kinds = _drop_plan(rng, n)
    os.makedirs(path, exist_ok=True)
    h = hashlib.sha256()
    total = 0
    for i, kind in enumerate(kinds):
        raw = _encode(deep_doc(rng, i, kind), kind)
        name = f"q{i:06d}.json.gz"
        with open(os.path.join(path, name), "wb") as f:
            with gzip.GzipFile(filename="", mode="wb", fileobj=f, mtime=0, compresslevel=1) as gz:
                gz.write(raw)
        with open(os.path.join(path, name), "rb") as f:
            data = f.read()
        h.update(name.encode() + b"\0" + data)
        total += len(data)
    dropped_at_extract = sum(k in ("nonjson", "nostats", "internal") for k in kinds)
    failed = kinds.count("failed")
    return Landing(
        path=path,
        docs_in=n,
        docs_kept=n - dropped_at_extract,
        queries=n - dropped_at_extract - failed,
        sha256=h.hexdigest(),
        bytes=total,
    )


def sample_docs(seed: int, n: int) -> list[str]:
    """``n`` kept documents as JSON text, for the in-driver summarize probe."""
    rng = random.Random(seed)
    return [json.dumps(deep_doc(rng, i, "ok"), separators=(",", ":")) for i in range(n)]
