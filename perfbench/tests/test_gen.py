import dataclasses
import hashlib

import gen

SMALL = dataclasses.replace(gen.CHAT, n_conversations=400)


def _digest(tmp_path, profile, seed, name):
    path = tmp_path / name
    gen.write(gen.generate(profile, seed), str(path))
    return hashlib.sha256(path.read_bytes()).hexdigest()


def test_same_seed_writes_identical_bytes(tmp_path):
    assert _digest(tmp_path, SMALL, 7, "a.parquet") == _digest(tmp_path, SMALL, 7, "b.parquet")


def test_other_seed_writes_other_bytes(tmp_path):
    assert _digest(tmp_path, SMALL, 7, "a.parquet") != _digest(tmp_path, SMALL, 8, "b.parquet")


def test_tables_follow_the_profile():
    for profile in (dataclasses.replace(gen.CHAT, n_conversations=2000), gen.AGENT):
        t = gen.generate(profile, 3)
        s = gen.stats(t)
        turns = t.column("turn_idx").to_numpy()
        assert s["conversations"] == profile.n_conversations
        assert profile.min_turns <= s["mean_turns"] <= profile.max_turns
        assert turns.max() == profile.max_turns - 1
        assert abs(s["tool_call_share"] - profile.tool_share) < 0.03
        assert s["distinct_tools"] <= profile.n_tools
        # Zipf skew: the hub tool takes far more than a uniform share.
        assert s["top_tool_share"] > 3.0 / profile.n_tools


def test_schema_matches_the_engine_input_contract():
    t = gen.generate(SMALL, 1)
    assert [(f.name, str(f.type)) for f in t.schema] == [
        ("conv_id", "string"),
        ("turn_idx", "int32"),
        ("role", "string"),
        ("text", "string"),
        ("tool", "string"),
        ("ts", "timestamp[us]"),
    ]
