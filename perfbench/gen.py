"""Seeded transcript generator owned by the benchmark.

The engine ships its own ``synthesize_transcripts``; the benchmark does not
use it, so a change to the engine cannot change the benchmark's inputs. Every
table here is a pure function of ``(profile, seed)``: NumPy's PCG64 stream
drives every random choice and the parquet writer is deterministic, so the
same seed writes identical bytes.

Traffic dimensions a profile fixes (and the result records):

- conversation length: turns per conversation, uniform in
  ``[min_turns, max_turns]``;
- tool-call share: probability that a turn calls a tool;
- tool-popularity skew: a called tool is drawn from ``n_tools`` names with
  Zipf weights ``1 / rank ** zipf_s`` (rank 1 is the hub).

Schema (the engine's transcript input contract)::

    conv_id string, turn_idx int, role string, text string,
    tool string (null when no call), ts timestamp[us]
"""

from __future__ import annotations

from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Reserved for verifying performance claims: never used while tuning a change.
HELD_OUT_SEED = 9_001

_WORDS = np.array(
    "plan read file patch test run search fetch parse edit check diff build "
    "query rank join merge split index cache graph node edge score".split()
)


@dataclass(frozen=True)
class Profile:
    n_conversations: int
    min_turns: int
    max_turns: int
    tool_share: float
    n_tools: int
    zipf_s: float

    def dimensions(self) -> dict:
        return asdict(self)


# Chat traffic: short conversations, a quarter of turns call a skewed tool set.
CHAT = Profile(
    n_conversations=12_000, min_turns=2, max_turns=12, tool_share=0.25, n_tools=256, zipf_s=1.2
)
# Agent traffic: long conversations, most turns call a tool, fewer and hotter tools.
AGENT = Profile(
    n_conversations=600, min_turns=16, max_turns=64, tool_share=0.8, n_tools=48, zipf_s=1.1
)


def generate(profile: Profile, seed: int) -> pa.Table:
    """The transcript table for ``(profile, seed)``."""
    rng = np.random.Generator(np.random.PCG64(seed))
    p = profile
    n_turns = rng.integers(p.min_turns, p.max_turns + 1, size=p.n_conversations)
    total = int(n_turns.sum())
    conv = np.repeat(np.arange(p.n_conversations), n_turns)
    starts = np.cumsum(n_turns) - n_turns
    turn = np.arange(total) - np.repeat(starts, n_turns)

    calls = rng.random(total) < p.tool_share
    weights = 1.0 / np.arange(1, p.n_tools + 1) ** p.zipf_s
    picks = rng.choice(p.n_tools, size=total, p=weights / weights.sum())
    names = np.array([f"tool_{k:04d}" for k in range(p.n_tools)], dtype=object)
    tool = np.where(calls, names[picks], None)

    role = np.where(turn % 2 == 0, "user", np.where(calls, "tool", "assistant"))
    words = _WORDS[rng.integers(0, len(_WORDS), size=(total, 3))]
    conv_ids = np.array([f"s{seed}-c{c:07d}" for c in range(p.n_conversations)], dtype=object)[conv]
    text = [f"{c}/{t} {a} {b} {d}" for c, t, (a, b, d) in zip(conv_ids, turn, words)]

    gaps = rng.integers(1, 600, size=total)
    t0 = np.datetime64("2026-01-01T00:00:00", "us") + np.repeat(
        rng.integers(0, 86_400, size=p.n_conversations), n_turns
    ).astype("timedelta64[s]")
    within = np.cumsum(gaps) - np.repeat(np.cumsum(gaps)[starts] - gaps[starts], n_turns)
    ts = t0 + within.astype("timedelta64[s]")

    return pa.table(
        {
            "conv_id": pa.array(conv_ids, pa.string()),
            "turn_idx": pa.array(turn, pa.int32()),
            "role": pa.array(role, pa.string()),
            "text": pa.array(text, pa.string()),
            "tool": pa.array(tool, pa.string()),
            "ts": pa.array(ts, pa.timestamp("us")),
        }
    )


def write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def stats(table: pa.Table) -> dict:
    """Measured traffic dimensions of a generated table."""
    n_conv = len(set(table.column("conv_id").to_pylist()))
    tools = table.column("tool").drop_null().to_numpy(zero_copy_only=False)
    _, counts = np.unique(tools, return_counts=True)
    return {
        "turns": table.num_rows,
        "conversations": n_conv,
        "mean_turns": round(table.num_rows / n_conv, 3),
        "tool_call_share": round(len(tools) / table.num_rows, 4),
        "distinct_tools": int(len(counts)),
        "top_tool_share": round(float(counts.max()) / len(tools), 4) if len(tools) else 0.0,
    }
