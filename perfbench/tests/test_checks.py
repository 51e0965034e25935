import json
import os

import pandas as pd

from perfbench import checks

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def verdicts():
    return pd.DataFrame(
        {
            "image_id": ["img1", "img2", "img3"],
            "keep": [True, False, False],
            "drop_reason": [None, "too_short", "lid_null"],
            "lang": ["en", "fr", None],
            "bucket": ["head", "all", "all"],
            "scrubbed_caption": ["a <EMAIL> b", "c", "d"],
        }
    )


def test_identical_verdicts_pass():
    want = verdicts()
    got = want.sample(frac=1.0, random_state=0)  # row order does not matter
    got.loc[got["lang"].isna(), "lang"] = checks.NULL_LANG  # the sink's NULL-lang partition
    assert checks.compare_verdicts(got, want) == []


def test_planted_wrong_verdict_row_is_rejected():
    want = verdicts()
    got = want.copy()
    got.loc[1, "keep"] = True
    got.loc[1, "drop_reason"] = None
    errs = checks.compare_verdicts(got, want)
    assert any(e.startswith("keep:") and "img2" in e for e in errs)
    assert any(e.startswith("drop_reason:") for e in errs)


def test_wrong_bucket_scrub_or_lang_is_rejected():
    for col, bad in [("bucket", "tail"), ("scrubbed_caption", "a x@y.com b"), ("lang", "de")]:
        got = verdicts()
        got.loc[0, col] = bad
        assert any(e.startswith(col + ":") for e in checks.compare_verdicts(got, verdicts()))


def test_missing_extra_or_duplicate_rows_are_rejected():
    want = verdicts()
    assert checks.compare_verdicts(want.iloc[:2], want)
    extra = pd.concat([want, want.iloc[[0]].assign(image_id="img9")])
    assert checks.compare_verdicts(extra, want)
    dup = pd.concat([want, want.iloc[[0]]])
    assert any("duplicate" in e for e in checks.compare_verdicts(dup, want))


def test_subset_and_sidecar_checks():
    assert checks.check_subset(["a", "b"], ["a", "b", "c"], "x") == []
    assert checks.check_subset(["a", "z"], ["a"], "x")
    side = pd.DataFrame({"partition_id": ["b000", "b001", "b001"], "n_in": [5, 3, 3]})
    assert checks.check_sidecar(side, "b000", 5) == []
    assert checks.check_sidecar(side, "b000", 4)
    assert checks.check_sidecar(side, "b001", 3)  # two rows for one batch
    assert checks.check_sidecar(side, "b002", 0)


def test_benchmark_json_names_match_the_worker():
    from perfbench.worker import END_TO_END, PER_LAYER, WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {w["name"] for w in bench["workloads"]} == set(WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == PER_LAYER
