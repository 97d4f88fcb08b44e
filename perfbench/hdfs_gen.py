"""Seeded HDFS_v1-shaped log generator with ground truth.

Follows FIXTURES.md sections 1-3 and 7:

- raw lines ``yyMMdd HHmmss pid LEVEL component: message``;
- the 29 LogHub HDFS templates verbatim, leading and trailing ``[*]``
  kept (the unanchored ``.*`` prefixes are the known tagging cost), with
  the E26-E28 ``addStoredBlock`` family and a line that matches two
  templates (E8 and E10, first match wins);
- 10-40 lines per block (a fixed total per block count), about 3%
  anomalous blocks;
- lines with no block id, and block lines that match no template;
- a label table that covers label-only blocks and leaves some log-only
  blocks unlabelled;
- session messages for the speed layer, with byte-identical replays and
  newer payloads for older keys (``stream_steps``).

Every output comes with the truth the benchmark checks the program
against. Truth is computed here in plain Python with the same
first-match-wins semantics the library documents, never by Spark.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import math
import random
import re
from dataclasses import dataclass, field

TEMPLATES: list[tuple[str, str]] = [
    ("E1", "[*]Adding an already existing block[*]"),
    ("E2", "[*]Verification succeeded for[*]"),
    ("E3", "[*]Served block[*]to[*]"),
    ("E4", "[*]Got exception while serving[*]to[*]"),
    ("E5", "[*]Receiving block[*]src:[*]dest:[*]"),
    ("E6", "[*]Received block[*]src:[*]dest:[*]of size[*]"),
    ("E7", "[*]writeBlock[*]received exception[*]"),
    ("E8", "[*]PacketResponder[*]for block[*]Interrupted[*]"),
    ("E9", "[*]Received block[*]of size[*]from[*]"),
    ("E10", "[*]PacketResponder[*]Exception[*]"),
    ("E11", "[*]PacketResponder[*]for block[*]terminating[*]"),
    ("E12", "[*]:Exception writing block[*]to mirror[*]"),
    ("E13", "[*]Receiving empty packet for block[*]"),
    ("E14", "[*]Exception in receiveBlock for block[*]"),
    ("E15", "[*]Changing block file offset of block[*]from[*]to[*]meta file offset to[*]"),
    ("E16", "[*]:Transmitted block[*]to[*]"),
    ("E17", "[*]:Failed to transfer[*]to[*]got[*]"),
    ("E18", "[*]Starting thread to transfer block[*]to[*]"),
    ("E19", "[*]Reopen Block[*]"),
    ("E20", "[*]Unexpected error trying to delete block[*]BlockInfo not found in volumeMap[*]"),
    ("E21", "[*]Deleting block[*]file[*]"),
    ("E22", "[*]BLOCK* NameSystem[*]allocateBlock:[*]"),
    ("E23", "[*]BLOCK* NameSystem[*]delete:[*]is added to invalidSet of[*]"),
    ("E24", "[*]BLOCK* Removing block[*]from neededReplications as it does not belong to any file[*]"),
    ("E25", "[*]BLOCK* ask[*]to replicate[*]to[*]"),
    ("E26", "[*]BLOCK* NameSystem[*]addStoredBlock: blockMap updated:[*]is added to[*]size[*]"),
    ("E27", "[*]BLOCK* NameSystem[*]addStoredBlock: Redundant addStoredBlock request received for[*]on[*]size[*]"),
    ("E28", "[*]BLOCK* NameSystem[*]addStoredBlock: addStoredBlock request received for[*]on[*]size[*]But it does not belong to any file[*]"),
    ("E29", "[*]PendingReplicationMonitor timed out block[*]"),
]
EVENT_IDS = [e for e, _ in TEMPLATES]

RE_BLOCK_ID = re.compile(r"(blk_[\-0-9]+)")
RE_MESSAGE = re.compile(r":\s+(.*)$")
# the library's template compilation (re.escape, then [*] -> .*),
# unanchored search; Python's and Java's regex agree on these patterns
_COMPILED = [
    (eid, re.compile(re.escape(t).replace(re.escape("[*]"), ".*")))
    for eid, t in TEMPLATES
]

# (event id) -> (level, component, message format); {b} is the block id
_SHAPES: dict[str, tuple[str, str, str]] = {
    "E1": ("INFO", "dfs.FSDataset", "Adding an already existing block {b}"),
    "E2": ("INFO", "dfs.DataBlockScanner", "Verification succeeded for {b}"),
    "E3": ("INFO", "dfs.DataNode", "{ip}:50010 Served block {b} to /{ip2}"),
    "E4": ("WARN", "dfs.DataNode", "{ip}:50010:Got exception while serving {b} to /{ip2}:"),
    "E5": ("INFO", "dfs.DataNode$DataXceiver", "Receiving block {b} src: /{ip}:{port} dest: /{ip2}:50010"),
    "E6": ("INFO", "dfs.DataNode$DataXceiver", "Received block {b} src: /{ip}:{port} dest: /{ip2}:50010 of size {size}"),
    "E7": ("INFO", "dfs.DataNode$DataXceiver", "writeBlock {b} received exception java.io.IOException: Could not read from stream"),
    "E8": ("INFO", "dfs.DataNode$PacketResponder", "PacketResponder {n} for block {b} Interrupted."),
    "E9": ("INFO", "dfs.DataNode$PacketResponder", "Received block {b} of size {size} from /{ip}"),
    "E10": ("INFO", "dfs.DataNode$PacketResponder", "PacketResponder {b} {n} Exception java.io.IOException: Connection reset by peer"),
    "E11": ("INFO", "dfs.DataNode$PacketResponder", "PacketResponder {n} for block {b} terminating"),
    "E12": ("INFO", "dfs.DataNode$DataXceiver", "{ip}:50010:Exception writing block {b} to mirror {ip2}:50010"),
    "E13": ("INFO", "dfs.DataNode$BlockReceiver", "Receiving empty packet for block {b}"),
    "E14": ("INFO", "dfs.DataNode$BlockReceiver", "Exception in receiveBlock for block {b} java.io.IOException: Connection reset by peer"),
    "E15": ("INFO", "dfs.DataNode$BlockReceiver", "Changing block file offset of block {b} from {n} to {size} meta file offset to {port}"),
    "E16": ("INFO", "dfs.DataNode$DataTransfer", "{ip}:50010:Transmitted block {b} to /{ip2}:50010"),
    "E17": ("WARN", "dfs.DataNode", "{ip}:50010:Failed to transfer {b} to {ip2}:50010 got java.io.IOException: Connection reset by peer"),
    "E18": ("INFO", "dfs.DataNode", "{ip}:50010 Starting thread to transfer block {b} to {ip2}:50010"),
    "E19": ("INFO", "dfs.FSDataset", "Reopen Block {b}"),
    "E20": ("WARN", "dfs.FSDataset", "Unexpected error trying to delete block {b}. BlockInfo not found in volumeMap."),
    "E21": ("INFO", "dfs.FSDataset", "Deleting block {b} file /mnt/hadoop/dfs/data/current/subdir{n}/{b}"),
    "E22": ("INFO", "dfs.FSNamesystem", "BLOCK* NameSystem.allocateBlock: /mnt/hadoop/mapred/system/job_200811092030_{port}/job.jar. {b}"),
    "E23": ("INFO", "dfs.FSNamesystem", "BLOCK* NameSystem.delete: {b} is added to invalidSet of {ip}:50010"),
    "E24": ("INFO", "dfs.FSNamesystem", "BLOCK* Removing block {b} from neededReplications as it does not belong to any file."),
    "E25": ("INFO", "dfs.FSNamesystem", "BLOCK* ask {ip}:50010 to replicate {b} to datanode(s) {ip2}:50010"),
    "E26": ("INFO", "dfs.FSNamesystem", "BLOCK* NameSystem.addStoredBlock: blockMap updated: {ip}:50010 is added to {b} size {size}"),
    "E27": ("INFO", "dfs.FSNamesystem", "BLOCK* NameSystem.addStoredBlock: Redundant addStoredBlock request received for {b} on {ip}:50010 size {size}"),
    "E28": ("INFO", "dfs.FSNamesystem", "BLOCK* NameSystem.addStoredBlock: addStoredBlock request received for {b} on {ip}:50010 size {size} But it does not belong to any file."),
    "E29": ("INFO", "dfs.PendingReplicationMonitor", "PendingReplicationMonitor timed out block {b}"),
    # matches E8 and E10: first match in template order (E8) wins
    "E8+E10": ("INFO", "dfs.DataNode$PacketResponder", "PacketResponder {n} for block {b} Interrupted Exception java.io.InterruptedIOException"),
    # carries a block id, matches no template
    "NONE": ("INFO", "dfs.DataNode$BlockReceiver", "Slow flush for {b} took {n}ms"),
}
_NO_BLOCK = [
    ("INFO", "dfs.DataNode", "Starting DataNode heartbeat to {ip}:50010"),
    ("WARN", "dfs.FSNamesystem", "Safe mode extension entered for {n} ms"),
    ("INFO", "dfs.DataNode$DataXceiverServer", "Listening on {ip}:50010 with {n} threads"),
]

_NORMAL_CORE = ["E22", "E5", "E5", "E5", "E26", "E26", "E26", "E11", "E11", "E11", "E9", "E9", "E9"]
_NORMAL_EXTRA = ["E3", "E3", "E2", "E21", "E23", "E18", "E16", "E25", "E1", "E6", "E24"]
_ANOMALY_EXTRA = ["E7", "E10", "E12", "E13", "E14", "E15", "E17", "E19", "E20", "E4",
                  "E27", "E28", "E29", "E8", "E8+E10"]

BASE_TIME = dt.datetime(2008, 11, 9, 20, 0, 0)
ISO = "%Y-%m-%d %H:%M:%S"
RAW = "%y%m%d %H%M%S"


def tag(message: str | None) -> str | None:
    """First matching EventId of a message, or None."""
    if message is None:
        return None
    for eid, rx in _COMPILED:
        if rx.search(message):
            return eid
    return None


@dataclass
class Line:
    ts: dt.datetime
    pid: int
    level: str
    component: str
    message: str

    def raw(self) -> str:
        return f"{self.ts.strftime(RAW)} {self.pid} {self.level} {self.component}: {self.message}"

    def iso(self) -> str:
        """The rewritten line the batch job and the speed layer share
        (``yyyy-MM-dd HH:mm:ss <rest>``)."""
        return f"{self.ts.strftime(ISO)} {self.pid} {self.level} {self.component}: {self.message}"


@dataclass
class Block:
    block_id: str
    anomalous: bool
    lines: list[Line] = field(default_factory=list)


def _fill(rng: random.Random, fmt: str, block_id: str) -> str:
    return fmt.format(
        b=block_id,
        ip=f"10.{rng.randint(250, 251)}.{rng.randint(0, 255)}.{rng.randint(1, 254)}",
        ip2=f"10.{rng.randint(250, 251)}.{rng.randint(0, 255)}.{rng.randint(1, 254)}",
        port=rng.randint(30000, 60000),
        size=rng.choice([67108864, 3547, 91178, 11971]),
        n=rng.randint(0, 2),
    )


def _block_id(rng: random.Random, used: set[str]) -> str:
    while True:
        b = f"blk_{rng.randint(-(2**63), 2**63 - 1)}"
        if b not in used:
            used.add(b)
            return b


def block_kinds(rng: random.Random, anomalous: bool, n_lines: int) -> list[str]:
    """The event kinds of one block's ``n_lines`` lines."""
    kinds = list(_NORMAL_CORE)
    while len(kinds) < n_lines:
        kinds.append(rng.choice(_NORMAL_EXTRA))
    if anomalous:
        for _ in range(rng.randint(2, 4)):
            kinds[rng.randrange(3, len(kinds))] = rng.choice(_ANOMALY_EXTRA)
    if rng.random() < 0.15:  # a block line that matches no template
        kinds[rng.randrange(1, len(kinds))] = "NONE"
    return kinds[:n_lines]


# every speed-layer block carries this multiset of events (in a seeded
# order), so each message file costs the stream about the same work
STREAM_KINDS = _NORMAL_CORE + ["E3", "E2", "E21", "E23", "E18", "E16", "E25"]


def make_block(rng: random.Random, block_id: str, anomalous: bool,
               start: dt.datetime, kinds: list[str]) -> Block:
    """One block's lines, one per event kind, in time order."""
    blk = Block(block_id, anomalous)
    t = start
    for k in kinds:
        level, comp, fmt = _SHAPES[k]
        blk.lines.append(Line(t, rng.randint(10, 600), level, comp, _fill(rng, fmt, block_id)))
        t += dt.timedelta(seconds=rng.choice([0, 0, 1, 1, 2, 5, 30]))
    return blk


# --- batch log + truth -------------------------------------------------


@dataclass
class BatchLog:
    lines: list[str]          # raw log lines, file order
    labels: list[tuple[str, str]]  # (block_id, "Normal" | "Anomaly")
    truth: dict               # see batch_log()


def session_row(lines: list[Line]) -> dict:
    """The session the batch job must derive from one block's lines."""
    start = min(l.ts for l in lines)
    end = max(l.ts for l in lines)
    full = "\n".join(s for _, s in sorted((l.ts, l.iso()) for l in lines))
    return {
        "start_ts": start.strftime(ISO),
        "end_ts": end.strftime(ISO),
        "duration_sec": int((end - start).total_seconds()),
        "num_lines": len(lines),
        "log_full_md5": hashlib.md5(full.encode()).hexdigest(),
    }


def event_counts(lines: list[Line]) -> dict[str, int]:
    counts = {e: 0 for e in EVENT_IDS}
    for l in lines:
        e = tag(l.message)
        if e is not None:
            counts[e] += 1
    return counts


def event_counts_of(log_full: str) -> dict[str, int]:
    """E-counts of a message's ``log_full`` text, each line's message
    taken with the library's ``RE_MESSAGE`` extraction."""
    counts = {e: 0 for e in EVENT_IDS}
    for line in log_full.split("\n"):
        m = RE_MESSAGE.search(line)
        e = tag(m.group(1)) if m and m.group(1) else None
        if e is not None:
            counts[e] += 1
    return counts


def batch_log(seed: int, n_blocks: int) -> BatchLog:
    """A raw HDFS_v1 log of ``n_blocks`` interleaved blocks of 10-40
    lines.

    Truth keys: ``features`` {block: {E1..E29: count}} for blocks with at
    least one tagged line; ``sessions`` {block: session_row}; ``labels``
    {block: label or None} for every session block (the left join);
    ``n_lines``; ``n_anomalous``.
    """
    rng = random.Random(seed)
    used: set[str] = set()
    # block lengths spread evenly over 10-40, in seeded order: every seed
    # gives the same number of lines
    sizes = [10 + 30 * i // max(1, n_blocks - 1) for i in range(n_blocks)]
    rng.shuffle(sizes)
    blocks = []
    for n_lines in sizes:
        start = BASE_TIME + dt.timedelta(seconds=rng.randint(0, 3 * 24 * 3600))
        anomalous = rng.random() < 0.03
        blocks.append(make_block(rng, _block_id(rng, used), anomalous, start,
                                 block_kinds(rng, anomalous, n_lines)))
    if not any(b.anomalous for b in blocks):  # the LR needs both classes
        b0 = blocks[0]
        blocks[0] = make_block(rng, b0.block_id, True, b0.lines[0].ts,
                               block_kinds(rng, True, len(b0.lines)))
    all_lines = [l for b in blocks for l in b.lines]
    for _ in range(max(3, len(all_lines) // 200)):  # lines with no block id
        level, comp, fmt = rng.choice(_NO_BLOCK)
        ts = BASE_TIME + dt.timedelta(seconds=rng.randint(0, 3 * 24 * 3600))
        all_lines.append(Line(ts, rng.randint(10, 600), level, comp, _fill(rng, fmt, "")))
    all_lines.sort(key=lambda l: l.ts)  # stable: block order kept within a second

    # about 2% of the normal blocks have no label row (every anomalous
    # block keeps its label, so both classes reach the LR); a few
    # label-only blocks
    labels = [(b.block_id, "Anomaly" if b.anomalous else "Normal")
              for b in blocks if b.anomalous or rng.random() >= 0.02]
    labels += [(_block_id(rng, used), "Normal") for _ in range(max(2, n_blocks // 100))]
    rng.shuffle(labels)
    label_of = dict(labels)

    truth = {
        "features": {},
        "sessions": {},
        "labels": {},
        "n_lines": len(all_lines),
        "n_anomalous": sum(b.anomalous for b in blocks),
    }
    for b in blocks:
        c = event_counts(b.lines)
        if any(c.values()):
            truth["features"][b.block_id] = c
        truth["sessions"][b.block_id] = session_row(b.lines)
        truth["labels"][b.block_id] = label_of.get(b.block_id)
    return BatchLog([l.raw() for l in all_lines], labels, truth)


# --- speed-layer messages ----------------------------------------------


def message(blk: Block) -> dict:
    """A session message as the producer sends it (FIXTURES section 7):
    ``log_full`` in the rewritten ISO line format."""
    row = session_row(blk.lines)
    return {
        "block_id": blk.block_id,
        "start_ts": row["start_ts"],
        "end_ts": row["end_ts"],
        "duration_sec": row["duration_sec"],
        "log_full": "\n".join(l.iso() for l in sorted(blk.lines, key=lambda l: l.ts)),
        "num_lines": row["num_lines"],
    }


def score(counts: dict[str, int], weights: dict[str, float], bias: float) -> float:
    z = bias + sum(w * counts.get(e, 0) for e, w in weights.items())
    return 1.0 / (1.0 + math.exp(-z))


@dataclass
class StreamStep:
    payload: str               # the file's bytes: JSON lines
    n_replays: int             # byte-identical copies of the previous file's lines
    n_updates: int             # newer payloads for keys sent before
    new_keys: list[str]


def stream_steps(seed: int, n_steps: int, per_step: int, replays: int,
                 updates: int) -> list[StreamStep]:
    """``n_steps`` message files. File i holds ``per_step`` new blocks,
    ``replays`` byte-identical lines of file i-1 and ``updates`` grown
    snapshots of blocks sent in earlier files. New blocks all carry the
    events of ``STREAM_KINDS``; an update appends one line of a random
    event, anomalous ones included. No key appears twice in
    one file, so the newest payload per key is the one in the latest
    file that carries it.

    Event times stay inside one 5-minute band so that the stream's
    watermark never turns a replay or an update into late data.
    """
    rng = random.Random(seed)
    used: set[str] = set()
    blocks: dict[str, Block] = {}
    steps: list[StreamStep] = []
    prev_lines: list[str] = []
    for i in range(n_steps):
        start = BASE_TIME + dt.timedelta(seconds=2 * i)
        lines: list[str] = []
        keys: set[str] = set()
        new_keys = []
        for _ in range(per_step):
            kinds = rng.sample(STREAM_KINDS, len(STREAM_KINDS))
            b = make_block(rng, _block_id(rng, used), False, start, kinds)
            blocks[b.block_id] = b
            new_keys.append(b.block_id)
            keys.add(b.block_id)
            lines.append(json.dumps(message(b)))
        older = [k for k in blocks if k not in keys]
        n_upd = 0
        for k in rng.sample(older, min(updates, len(older))):
            b = blocks[k]
            level, comp, fmt = _SHAPES[rng.choice(_NORMAL_EXTRA + _ANOMALY_EXTRA)]
            ts = b.lines[-1].ts + dt.timedelta(seconds=1)
            b.lines.append(Line(ts, rng.randint(10, 600), level, comp, _fill(rng, fmt, k)))
            keys.add(k)
            lines.append(json.dumps(message(b)))
            n_upd += 1
        rep = [l for l in prev_lines if json.loads(l)["block_id"] not in keys]
        rep = rng.sample(rep, min(replays, len(rep)))
        prev_lines = lines
        lines = lines + rep
        rng.shuffle(lines)
        steps.append(StreamStep("\n".join(lines) + "\n", len(rep), n_upd, new_keys))
    return steps
