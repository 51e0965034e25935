import pandas as pd

from perfbench import inputs


def test_spark_split_ws_follows_java_whitespace_and_space_trim():
    assert inputs.spark_split_ws("  a b\tc\n\nd  ") == ["a", "b", "c", "d"]
    # trim strips spaces only, so a leading newline leaves an empty token
    assert inputs.spark_split_ws("\na") == ["", "a"]
    # Java's \s does not match a no-break space
    assert inputs.spark_split_ws("a b") == ["a b"]


def test_fresh_ids_keeps_min_id_of_new_hashes():
    batch = pd.DataFrame(
        {"image_id": ["i3", "i1", "i2", "i4"], "caption": ["New text", "new TEXT!", "old", "other"]}
    )
    assert inputs.fresh_ids(["OLD"], batch) == {"i1", "i4"}


def test_image_gate_twin():
    ok = {"w": 32, "h": 64, "fmt": "ppm", "bytes": b"x" * 2000, "caption": "three good words"}
    assert inputs.image_gate_pass(ok)
    assert not inputs.image_gate_pass({**ok, "w": 16})
    assert not inputs.image_gate_pass({**ok, "h": 96})  # aspect 3:1
    assert not inputs.image_gate_pass({**ok, "fmt": "gif"})
    assert not inputs.image_gate_pass({**ok, "bytes": b"x" * 10})
    assert not inputs.image_gate_pass({**ok, "caption": "two words"})
    assert not inputs.image_gate_pass({**ok, "caption": "1234 5678 ab"})
