"""Seeded input generator for the benchmark.

Everything here is plain NumPy / PyArrow / text: nothing imports the engine,
so a change to the program cannot change the inputs it is measured on.  The
same ``(seed, size, GEN_VERSION)`` always yields byte-identical files, which
are cached on disk under that key.

Two inputs:

* **transcripts** — the canonical ``(conv_id, turn_idx, role, text, tool, ts)``
  table, written as plain parquet hash-partitioned by ``conv_id`` into
  ``N_FILES`` files (``plain/``), plus its first ``SLICE_CONVS``
  conversations on their own (``slice/``).  Conversations are 5-45 turns plus ``HOT_CONVS`` hot
  conversations of ``HOT_TURNS`` turns.  A subset of conversations carries
  exactly one planted defect each (``TRANSCRIPT_KINDS``); conversations are
  independent under ``transcript_spec`` (every constraint is scoped by
  ``conv_id``), so the expected violations are the sum of the per-defect
  signatures and go into ``ledger.json``.
* **xml** — ``<conversation>`` documents valid against the bundled
  ``transcript.xsd`` except for planted defects (``XML_KINDS``), grouped in
  batches of ``XML_BATCH`` documents (several small, one with thousands of
  turns).  ``ledger.json`` records each document's expected error count.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_VERSION = "2"

N_FILES = 8
HOT_CONVS = 3
HOT_TURNS = 3_000
SLICE_CONVS = 40  # conversations [0, SLICE_CONVS) form the oracle slice
CACHE_KEEP = 4

ROLES = ("system", "user", "assistant", "tool", "alien")
SYSTEM, USER, ASSISTANT, TOOL, ALIEN = range(5)
CYCLE = (USER, ASSISTANT, TOOL, ASSISTANT)  # roles of turns 1, 2, 3, 4, 5, ...
TOOL_NULL, TOOL_BAD = -1, -2
BASE_TS_US = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00Z
TEN_DAYS_US = 10 * 86_400 * 1_000_000

# Expected violations per planted defect under ``spec.transcript_spec()``.
# Each defect sits in its own conversation, so signatures never overlap.
TRANSCRIPT_KINDS = {
    # a user turn (not the first) becomes 'alien': enumeration + the
    # transition into it (nothing is allowed to follow an unknown role check)
    "role_alien": {"facet:role:Enumeration": 1,
                   "model:role-transitions": 1},
    "text_empty": {"facet:text:MinLength": 1},
    # a tool turn references a malformed id no assistant declared
    "tool_bad": {"facet:tool:Pattern": 1, "keyref:tool-ref": 1},
    # a tool turn without its tool id (a NULL keyref field is skipped)
    "tool_null": {"facet:tool:Required": 1},
    "ts_back": {"model:ts-monotone": 1},
    # the last (assistant) turn is duplicated: same key, no +1 step
    "dup_last": {"key:turn-key": 1, "model:turn-contiguity": 1},
    # the last (assistant) turn loses turn_idx: NULLs sort first, so the
    # row opens the conversation (bad start, bad first turn, bad
    # transition into 'system', ts going backwards after it)
    "key_missing": {"facet:turn_idx:Required": 1,
                    "key:turn-key:missing-field": 1,
                    "model:role-transitions": 2,
                    "model:first-is-system-or-user": 1,
                    "model:ts-monotone": 1},
    # a one-turn conversation with no user turn
    "no_user": {"occurs:min-one-user": 1},
}

XML_BATCH = 4  # documents per validate-xml invocation: 3 small, 1 large
XML_BATCHES = 6
XML_LARGE_TURNS = (2_900, 3_100)
# Expected errors per planted defect under perfbench/transcript.xsd.
XML_KINDS = {
    "role_alien": 1,     # enumeration
    "text_empty": 1,     # minLength
    "tool_bad": 1,       # pattern
    "ts_bad": 1,         # xs:dateTime lexical
    "ts_missing": 1,     # required element, one content-model error
    "idx_dup": 1,        # xs:key duplicate
    "idx_negative": 2,   # xs:nonNegativeInteger lexical + range
}


@dataclass(frozen=True)
class Inputs:
    """Paths and ledger of one generated input set."""

    root: str
    ledger: dict

    def path(self, *parts: str) -> str:
        return os.path.join(self.root, *parts)


# ---------------------------------------------------------------------------
# transcripts
# ---------------------------------------------------------------------------


def _conv_lengths(rng, n_turns: int):
    """Per-conversation turn counts and planted defect kinds (at most one
    per conversation; hot conversations stay clean)."""
    n_normal = max(SLICE_CONVS * 2, (n_turns - HOT_CONVS * HOT_TURNS) // 25)
    lengths = rng.integers(5, 46, n_normal)
    kinds = np.full(n_normal, "", dtype=object)
    local = [k for k in TRANSCRIPT_KINDS if k != "no_user"]
    # the oracle slice carries every kind; elsewhere one conversation in 20
    # is corrupted with a random kind
    pick = np.nonzero(rng.random(n_normal) < 0.05)[0]
    pick = pick[pick >= SLICE_CONVS]
    kinds[pick] = rng.choice(local, len(pick))
    kinds[: len(local)] = local
    # one-turn no-user conversations, one in 500, two of them in the slice
    nou = np.nonzero(rng.random(n_normal) < 0.002)[0]
    nou = np.concatenate([[len(local), len(local) + 1], nou[nou >= SLICE_CONVS]])
    kinds[nou] = "no_user"
    lengths[nou] = 1
    need_odd = np.isin(kinds, ["dup_last", "key_missing"])  # last turn = assistant
    lengths[need_odd] = np.maximum(11, lengths[need_odd] | 1)
    local_mask = np.isin(kinds, local)
    lengths[local_mask] = np.maximum(lengths[local_mask], 11)
    hot_at = rng.choice(np.arange(SLICE_CONVS, n_normal), HOT_CONVS, replace=False)
    lengths[hot_at] = HOT_TURNS
    kinds[hot_at] = ""
    return lengths, kinds


def _plant(kind, rng, start, n, role, tool, text, ts, dup_rows, null_idx):
    """Apply one planted defect to conversation rows ``[start, start+n)``."""
    if kind == "role_alien":  # a user turn other than turn 1
        t = 1 + 4 * rng.integers(1, (n - 2) // 4 + 1)
        role[start + t] = ALIEN
    elif kind == "text_empty":
        text[start + rng.integers(1, n)] = ""
    elif kind in ("tool_bad", "tool_null"):  # a tool turn: t = 3, 7, 11, ...
        t = 3 + 4 * rng.integers(0, (n - 4) // 4 + 1)
        tool[start + t] = TOOL_BAD if kind == "tool_bad" else TOOL_NULL
    elif kind == "ts_back":
        ts[start + rng.integers(1, n)] -= TEN_DAYS_US
    elif kind == "dup_last":
        dup_rows.append(start + n - 1)
    elif kind == "key_missing":
        null_idx.append(start + n - 1)


def transcripts_table(seed: int, n_turns: int):
    """The transcript table (row order: conversation, then turn) + ledger."""
    rng = np.random.default_rng([seed, 1])
    lengths, kinds = _conv_lengths(rng, n_turns)
    starts = np.concatenate([[0], np.cumsum(lengths)[:-1]])
    total = int(lengths.sum())
    conv = np.repeat(np.arange(len(lengths)), lengths)
    tidx = np.arange(total) - np.repeat(starts, lengths)

    cyc = (tidx - 1) % 4
    role = np.where(tidx == 0, SYSTEM, np.array(CYCLE)[cyc])
    tool_num = rng.integers(0, 1000, total)
    # the tool turn (cycle 2) references the id its assistant turn declared
    decl = np.where(cyc == 2, np.arange(total) - 1, np.arange(total))
    tool = np.where((tidx > 0) & np.isin(cyc, (1, 2)), tool_num[decl], TOOL_NULL)
    marks = rng.integers(0, 99_991, total)
    text = np.array(
        [
            f"turn {t}\tkeep\n\nwhitespace  intact #{m}" if m % 7 == 0
            else f"turn {t} lorem ipsum dolor sit amet #{m}"
            for t, m in zip(tidx.tolist(), marks.tolist())
        ],
        dtype=object,
    )
    conv_base = rng.integers(0, 86_400, len(lengths)) * 1_000_000
    ts = (BASE_TS_US + np.repeat(conv_base, lengths) + tidx * 61_000_000
          + rng.integers(0, 60, total) * 1_000_000)

    dup_rows: list = []
    null_idx: list = []
    counts: dict = {}
    for c in np.nonzero(kinds != "")[0]:
        kind = kinds[c]
        _plant(kind, rng, starts[c], lengths[c], role, tool, text, ts,
               dup_rows, null_idx)
        counts[kind] = counts.get(kind, 0) + 1

    order = np.sort(np.concatenate([np.arange(total), dup_rows])).astype(np.int64)
    null_mask = np.zeros(total, dtype=bool)
    null_mask[null_idx] = True
    conv_ids = np.array([f"conv-{c:08d}" for c in range(len(lengths))],
                        dtype=object)
    tool_str = np.array(
        [None if v == TOOL_NULL else "TOOL_x" if v == TOOL_BAD
         else f"tool-{v:03d}" for v in tool.tolist()],
        dtype=object,
    )
    table = pa.table(
        {
            "conv_id": pa.array(conv_ids[conv[order]], pa.string()),
            "turn_idx": pa.array(tidx[order], pa.int32(),
                                 mask=null_mask[order]),
            "role": pa.array(np.array(ROLES, dtype=object)[role[order]],
                             pa.string()),
            "text": pa.array(text[order], pa.string()),
            "tool": pa.array(tool_str[order], pa.string()),
            "ts": pa.array(ts[order], pa.timestamp("us", tz="UTC")),
        }
    )
    slice_counts: dict = {}
    for kind in kinds[:SLICE_CONVS]:
        if kind:
            slice_counts[kind] = slice_counts.get(kind, 0) + 1
    ledger = {
        "turns": table.num_rows,
        "conversations": len(lengths),
        "planted": dict(sorted(counts.items())),
        **_expected(counts),
        # the first conversations, written again on their own: the oracle
        # slice and the nightly warm-up input
        "slice": {"turns": int(np.count_nonzero(conv[order] < SLICE_CONVS)),
                  **_expected(slice_counts)},
    }
    return table, ledger


def _expected(counts: dict) -> dict:
    by_constraint: dict = {}
    for kind, n in counts.items():
        for cid, k in TRANSCRIPT_KINDS[kind].items():
            by_constraint[cid] = by_constraint.get(cid, 0) + k * n
    return {"violations": sum(by_constraint.values()),
            "by_constraint": dict(sorted(by_constraint.items()))}


def _file_of(conv: np.ndarray) -> np.ndarray:
    """Stable hash partition of conversation numbers (Fibonacci hashing)."""
    h = (conv.astype(np.uint64) * np.uint64(0x9E3779B97F4A7C15)) >> np.uint64(40)
    return (h % np.uint64(N_FILES)).astype(np.int64)


def write_transcripts(out_dir: str, seed: int, n_turns: int) -> dict:
    table, ledger = transcripts_table(seed, n_turns)
    conv = np.array([int(c[5:]) for c in table.column("conv_id").to_pylist()])
    part = _file_of(conv)
    os.makedirs(os.path.join(out_dir, "plain"))
    for p in range(N_FILES):
        idx = np.nonzero(part == p)[0]
        pq.write_table(table.take(idx), os.path.join(
            out_dir, "plain", f"part-{p:05d}.parquet"))
    os.makedirs(os.path.join(out_dir, "slice"))
    pq.write_table(table.slice(0, ledger["slice"]["turns"]),
                   os.path.join(out_dir, "slice", "part-00000.parquet"))
    return ledger


# ---------------------------------------------------------------------------
# XML documents
# ---------------------------------------------------------------------------


def _xml_turn(t: int, tool_num: int, ts_us: int, defect: str | None,
              dup_of: int) -> str:
    cyc = (t - 1) % 4
    role = "system" if t == 0 else ROLES[CYCLE[cyc]]
    idx = str(t)
    text = f"turn {t} lorem ipsum"
    tool = f"tool-{tool_num:03d}" if t > 0 and cyc in (1, 2) else None
    secs = ts_us // 1_000_000
    ts = np.datetime_as_string(np.datetime64(secs, "s"))
    if defect == "role_alien":
        role = "alien"
    elif defect == "text_empty":
        text = ""
    elif defect == "tool_bad":
        tool = "TOOL_x"
    elif defect == "ts_bad":
        ts = ts.replace("T", " ")
    elif defect == "idx_dup":
        idx = str(dup_of)
    elif defect == "idx_negative":
        idx = "-1"
    parts = [f'<turn turn_idx="{idx}"><role>{role}</role><text>{text}</text>']
    if tool is not None:
        parts.append(f"<tool>{tool}</tool>")
    if defect != "ts_missing":
        parts.append(f"<ts>{ts}</ts>")
    parts.append("</turn>")
    return "".join(parts)


def _xml_doc(rng, n: int, n_defects: int):
    """One document's text and expected error count."""
    # defects on distinct, non-adjacent turns >= 1 (idx_dup copies the
    # previous turn's index, so neighbours must stay intact)
    slots: list = []
    for t in rng.permutation(np.arange(1, n)).tolist():
        if len(slots) == n_defects:
            break
        if all(abs(t - s) > 1 for s in slots):
            slots.append(t)
    kinds = list(XML_KINDS)
    defects: dict = {}
    negative_used = False
    for s in slots:
        k = kinds[rng.integers(0, len(kinds))]
        if k == "idx_negative":
            if negative_used:
                k = "text_empty"
            negative_used = True
        if k == "tool_bad" and (s - 1) % 4 not in (1, 2):
            k = "role_alien"
        defects[s] = k
    tool_num = rng.integers(0, 1000, n)
    base = BASE_TS_US + int(rng.integers(0, 86_400)) * 1_000_000
    turns = [
        _xml_turn(t, int(tool_num[t - 1 if (t - 1) % 4 == 2 else t]),
                  base + t * 61_000_000, defects.get(t), t - 1)
        for t in range(n)
    ]
    body = "".join(turns)
    text = f'<?xml version="1.0" encoding="UTF-8"?>\n<conversation>{body}</conversation>\n'
    return text, sum(XML_KINDS[k] for k in defects.values())


def write_xml(out_dir: str, seed: int) -> dict:
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir)
    batches = []
    docs = {}
    for b in range(XML_BATCHES):
        names = []
        for d in range(XML_BATCH):
            large = d == XML_BATCH - 1
            n = int(rng.integers(*XML_LARGE_TURNS) if large
                    else rng.integers(5, 46))
            text, errors = _xml_doc(rng, n, int(rng.integers(3, 7) if large
                                                else rng.integers(0, 4)))
            name = f"doc-{b:02d}-{d}.xml"
            with open(os.path.join(out_dir, name), "w", encoding="utf-8") as f:
                f.write(text)
            docs[name] = {"turns": n, "errors": errors}
            names.append(name)
        batches.append(names)
    text, _ = _xml_doc(rng, 12, 0)
    with open(os.path.join(out_dir, "warmup.xml"), "w", encoding="utf-8") as f:
        f.write(text)
    return {"batches": batches, "docs": docs, "warmup": "warmup.xml"}


# ---------------------------------------------------------------------------
# cache
# ---------------------------------------------------------------------------


def generate(cache_dir: str, kind: str, seed: int, n_turns: int = 0) -> Inputs:
    """Generate (or reuse) one input set under ``cache_dir``.

    ``kind`` is ``"transcripts"`` or ``"xml"``.  The key holds the generator
    version, kind, seed and size; only the ``CACHE_KEEP`` most recently used
    sets of each kind stay on disk.
    """
    key = f"v{GEN_VERSION}-{kind}-s{seed}-n{n_turns}"
    root = os.path.join(cache_dir, key)
    ledger_path = os.path.join(root, "ledger.json")
    if os.path.exists(ledger_path):
        os.utime(root)
        with open(ledger_path) as f:
            return Inputs(root, json.load(f))
    tmp = root + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    if kind == "transcripts":
        ledger = write_transcripts(tmp, seed, n_turns)
    elif kind == "xml":
        ledger = write_xml(os.path.join(tmp, "docs"), seed)
    else:
        raise ValueError(f"unknown input kind {kind!r}")
    with open(os.path.join(tmp, "ledger.json"), "w") as f:
        json.dump(ledger, f, indent=1, sort_keys=True)
    shutil.rmtree(root, ignore_errors=True)
    os.replace(tmp, root)
    _evict(cache_dir, f"-{kind}-", CACHE_KEEP)
    return Inputs(root, ledger)


def _evict(cache_dir: str, tag: str, keep: int) -> None:
    sets = [
        os.path.join(cache_dir, d) for d in os.listdir(cache_dir)
        if tag in d and ".tmp" not in d
    ]
    sets.sort(key=os.path.getmtime, reverse=True)
    for old in sets[keep:]:
        shutil.rmtree(old, ignore_errors=True)
