"""Seeded input generators for the benchmark.

Everything here depends only on numpy and the standard library: the engine
sees the generated files, never this module. The msgpack encoder below is
the benchmark's own (a few dozen lines for the fixed Fluent Bit record
shape), so the engine's decoder is checked against an encoder it does not
share.
"""

from __future__ import annotations

import hashlib
import json
import os
import struct
from dataclasses import dataclass

import numpy as np

DAY_S = 86_400
EPOCH0 = 1_788_220_800  # 2026-09-01T00:00:00Z, the first generated day
N_DAYS = 30

NAMESPACES = ["checkout", "payments", "search", "auth", "ingest", "web"]
LEVELS = ["info", "warn", "error", "debug"]
LEVEL_P = [0.70, 0.15, 0.10, 0.05]
METHODS = ["GET", "POST", "PUT", "DELETE"]
STATUSES = [200, 201, 404, 500]
NEEDLE = "upstream timeout"  # the substring the log_contains query looks for


# --- logs -----------------------------------------------------------------
@dataclass
class LogSet:
    """Generated log records, column-wise. ``ts_ms`` are unique epoch
    milliseconds, so ordering by time is deterministic."""

    ts_ms: np.ndarray
    pod: np.ndarray          # index into pods
    level: np.ndarray
    method: np.ndarray
    status: np.ndarray
    latency: np.ndarray      # two decimals
    user: np.ndarray
    timeout: np.ndarray      # bool: log line carries NEEDLE
    pods: list[dict]

    def __len__(self) -> int:
        return len(self.ts_ms)

    def record(self, i: int) -> tuple[int, dict]:
        p = self.pods[self.pod[i]]
        method = METHODS[self.method[i]]
        status = STATUSES[self.status[i]]
        lat = float(self.latency[i])
        log = f"{method} /api/v1/{p['app']} {status} {lat:.2f}ms"
        if self.timeout[i]:
            log += " " + NEEDLE
        return int(self.ts_ms[i]), {
            "log": log,
            "cluster": p["cluster"],
            "kubernetes": {
                "namespace_name": p["namespace"],
                "pod_name": p["pod"],
                "container_name": p["container"],
                "host": p["host"],
                "labels": {"app": p["app"]},
            },
            "content": {
                "level": LEVELS[self.level[i]],
                "method": method,
                "status": status,
                "latency_ms": lat,
                "user": {"id": int(self.user[i])},
            },
        }

    def take(self, idx) -> "LogSet":
        """The records at ``idx`` (an index array or a slice)."""
        cols = {f: getattr(self, f)[idx] for f in
                ("ts_ms", "pod", "level", "method", "status", "latency", "user", "timeout")}
        return LogSet(**cols, pods=self.pods)

    def rows(self) -> dict:
        """Flat columns for the DuckDB oracle (what the table must hold)."""
        pods = self.pods
        return {
            "ts_ms": self.ts_ms.astype(np.int64),
            "namespace": [pods[i]["namespace"] for i in self.pod],
            "pod_name": [pods[i]["pod"] for i in self.pod],
            "app": [pods[i]["app"] for i in self.pod],
            "level": [LEVELS[i] for i in self.level],
            "latency": self.latency.astype(np.float64),
            "log": [self.record(i)[1]["log"] for i in range(len(self))],
        }


def make_pods(rng: np.random.Generator, n: int = 120) -> list[dict]:
    pods = []
    for i in range(n):
        ns = NAMESPACES[i % len(NAMESPACES)]
        app = f"{ns}-svc{i % 7}"
        pods.append({
            "pod": f"{app}-{rng.integers(16**5):05x}-{i}",
            "namespace": ns,
            "app": app,
            "container": f"c{i % 3}",
            "host": f"node-{i % 16:02d}",
            "cluster": f"prod-{i % 2}",
        })
    return pods


def make_logs(seed: int, n: int, stream_id: int = 0,
              pods: list[dict] | None = None) -> LogSet:
    """``n`` records over N_DAYS days, pods Zipf-skewed (s=1.1)."""
    rng = np.random.default_rng([seed, stream_id])
    pods = pods if pods is not None else make_pods(np.random.default_rng(seed))
    w = 1.0 / np.arange(1, len(pods) + 1) ** 1.1
    w = w[rng.permutation(len(pods))]
    ts = np.sort(rng.choice(N_DAYS * DAY_S * 1000, size=n, replace=False))
    ts = EPOCH0 * 1000 + rng.permutation(ts)
    return LogSet(
        ts_ms=ts,
        pod=rng.choice(len(pods), size=n, p=w / w.sum()),
        level=rng.choice(len(LEVELS), size=n, p=LEVEL_P),
        method=rng.integers(0, len(METHODS), size=n),
        status=rng.integers(0, len(STATUSES), size=n),
        latency=np.round(rng.lognormal(3.0, 1.0, size=n), 2),
        user=rng.integers(1, 100_000, size=n),
        timeout=rng.random(n) < 0.03,
        pods=pods,
    )


def _ts_text(ts_ms: int) -> str:
    return f"{ts_ms // 1000}.{ts_ms % 1000:03d}"


def json_lines(logs: LogSet, seed: int, bad_share: float) -> tuple[list[str], list[str]]:
    """Fluent Bit JSON-lines envelopes plus injected malformed lines.
    Returns (all lines in spool order, the malformed lines)."""
    rng = np.random.default_rng([seed, 7])
    lines = []
    for i in range(len(logs)):
        ts, rec = logs.record(i)
        lines.append('{"ts": %s, "record": %s}' % (
            _ts_text(ts), json.dumps(rec, separators=(",", ":"))))
    n_bad = int(round(len(lines) * bad_share))
    bad = []
    for k in range(n_bad):
        src = lines[int(rng.integers(len(lines)))]
        if k % 2:  # valid JSON whose record is not an object
            bad.append(json.dumps(["not", "a", "record", k]))
        else:      # truncated object: never parses
            bad.append(src[: len(src) // 2].rstrip())
    at = np.sort(rng.choice(len(lines) + n_bad, size=n_bad, replace=False))
    out, bi, li = [], 0, 0
    for pos in range(len(lines) + n_bad):
        if bi < n_bad and at[bi] == pos:
            out.append(bad[bi])
            bi += 1
        else:
            out.append(lines[li])
            li += 1
    return out, bad


# --- msgpack (encoder for the fixed Fluent Bit event shape) ----------------
_D = struct.Struct(">d")


def _mp(obj, out: bytearray) -> None:
    if isinstance(obj, str):
        b = obj.encode()
        n = len(b)
        if n < 32:
            out.append(0xA0 | n)
        elif n < 256:
            out += bytes((0xD9, n))
        else:
            out += b"\xda" + n.to_bytes(2, "big")
        out += b
    elif isinstance(obj, bool):
        out.append(0xC3 if obj else 0xC2)
    elif isinstance(obj, int):
        if 0 <= obj < 128:
            out.append(obj)
        elif 0 <= obj < 1 << 16:
            out += b"\xcd" + obj.to_bytes(2, "big")
        elif 0 <= obj < 1 << 32:
            out += b"\xce" + obj.to_bytes(4, "big")
        else:
            raise ValueError(f"integer out of the generated range: {obj}")
    elif isinstance(obj, float):
        out += b"\xcb" + _D.pack(obj)
    elif isinstance(obj, dict):
        if len(obj) >= 16:
            raise ValueError("generated maps have fewer than 16 keys")
        out.append(0x80 | len(obj))
        for k, v in obj.items():
            _mp(k, out)
            _mp(v, out)
    else:
        raise TypeError(type(obj).__name__)


def msgpack_event(ts_ms: int, record: dict) -> bytes:
    """``[FLBTime, record]``: fixarray(2), fixext8 type 0 (sec, nsec)."""
    out = bytearray(b"\x92\xd7\x00")
    out += struct.pack(">II", ts_ms // 1000, (ts_ms % 1000) * 1_000_000)
    _mp(record, out)
    return bytes(out)


# --- spools ---------------------------------------------------------------
def write_json_spool(path: str, lines: list[str], files: int) -> None:
    os.makedirs(path, exist_ok=True)
    for f, part in enumerate(np.array_split(np.arange(len(lines)), files)):
        with open(os.path.join(path, f"chunk-{f:04d}.json"), "w") as fh:
            fh.write("\n".join(lines[i] for i in part) + "\n")


def write_msgpack_spool(path: str, logs: LogSet, files: int) -> None:
    os.makedirs(path, exist_ok=True)
    for f, part in enumerate(np.array_split(np.arange(len(logs)), files)):
        with open(os.path.join(path, f"chunk-{f:04d}.msgpack"), "wb") as fh:
            fh.write(b"".join(msgpack_event(*logs.record(int(i))) for i in part))


# --- documents ------------------------------------------------------------
# The 31-word vocabulary of the repository's synthetic documents corpus.
VOCAB = ("a agg batch big column customer data dup fast filter group hash "
         "join key line merge order part query row scan slow small sort "
         "spark stream table the value vector window").split()
STOPS = ("the", "a")
# content tokens: each non-stopword in 32 numbered variants, so unrelated
# documents get unrelated SimHash signatures
CONTENT = [f"{w}{i}" for w in VOCAB if w not in STOPS for i in range(32)]


def _doc(rng: np.random.Generator) -> list[str]:
    length = int(rng.integers(40, 90))
    sub = rng.choice(len(CONTENT), size=int(rng.integers(16, 32)), replace=False)
    out = []
    for r in rng.random(length):
        if r < 0.06:
            out.append("the")
        elif r < 0.11:
            out.append("a")
        else:
            out.append(CONTENT[sub[int(rng.integers(len(sub)))]])
    return out


def cluster_sizes(total: int, s: float = 2.0, cap: int = 40) -> list[int]:
    """Cluster sizes summing to ``total``, Zipf(``s``) capped at ``cap``,
    taken at evenly spaced quantiles instead of sampled: every seed gets
    the same size mix, so the near-duplicate pair work does not vary with
    the seed, and a few clusters are large enough to make blocks run hot."""
    ks = np.arange(1, cap + 1)
    cdf = np.cumsum(ks ** -s) / np.sum(ks ** -s)
    m = 1
    while True:
        sizes = ks[np.searchsorted(cdf, (np.arange(m) + 0.5) / m)]
        if sizes.sum() >= total:
            break
        m += 1
    out, left = [], total
    for k in sorted(sizes.tolist(), reverse=True):
        out.append(min(k, left))
        left -= out[-1]
        if not left:
            break
    return out


def make_docs(seed: int, n: int, shard: int) -> tuple[list[int], list[str], list[str]]:
    """``n`` documents: 70% distinct, 10% exact copies, 10% near copies in
    Zipf-sized clusters (1-2 token edits), 10% junk (too short, repetitive,
    punctuation-heavy, no stopwords). Returns (doc_ids, texts, probes);
    every probe phrase is planted in about 2% of the documents."""
    rng = np.random.default_rng([seed, 100 + shard])
    probes = [" ".join(CONTENT[int(j)] for j in rng.choice(len(CONTENT), 5))
              for _ in range(12)]
    docs: list[list[str]] = []
    n_base = int(n * 0.70)
    for _ in range(n_base):
        d = _doc(rng)
        if rng.random() < 0.02:
            at = int(rng.integers(len(d)))
            d[at:at] = probes[int(rng.integers(len(probes)))].split()
        docs.append(d)
    for size in cluster_sizes(int(n * 0.10)):  # near-dup clusters
        src = docs[int(rng.integers(n_base))]
        for _ in range(size):
            d = list(src)
            for _ in range(int(rng.integers(1, 3))):
                d[int(rng.integers(len(d)))] = CONTENT[int(rng.integers(len(CONTENT)))]
            docs.append(d)
    for _ in range(int(n * 0.10)):
        docs.append(list(docs[int(rng.integers(len(docs)))]))
    while len(docs) < n:
        kind = len(docs) % 4
        d = _doc(rng)
        if kind == 0:
            d = d[: int(rng.integers(5, 15))]
        elif kind == 1:
            d = [d[0]] * (len(d) // 2) + d[len(d) // 2:]
        elif kind == 2:
            d = [t + "!!" for t in d]
        else:
            d = [t for t in d if t not in STOPS]
        docs.append(d)
    order = rng.permutation(len(docs))
    base_id = shard * 10_000_000
    ids = [base_id + int(i) for i in range(len(docs))]
    texts = [" ".join(docs[int(k)]) for k in order]
    return ids, texts, probes


def md5_60(token: str) -> int:
    """The 60-bit token hash the SimHash operator is specified with."""
    return int(hashlib.md5(token.encode()).hexdigest()[:15], 16)
