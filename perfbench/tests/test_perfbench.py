"""The benchmark's own checks; they need no Spark session.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


def test_generators_are_deterministic_per_seed():
    assert gen.post_batch(7, 3) == gen.post_batch(7, 3)
    assert gen.post_batch(7, 3) != gen.post_batch(8, 3)
    assert gen.change_batch(7, 5) == gen.change_batch(7, 5)
    assert gen.change_batch(7, 5) != gen.change_batch(8, 5)
    assert gen.window(7, 5) == gen.window(7, 5)


def test_posts_predict_one_record_per_day_block():
    posts, expected = gen.post_batch(1, 0)
    assert len(posts) == gen.POSTS_PER_BATCH
    assert len({p["id"] for p in posts}) == len(posts)
    for p in posts:
        html = p["content"]["rendered"]
        days = sum(html.count(f"<p>{d} (") + html.count(f"<strong>{d} (") for d in gen.WEEKDAYS)
        mine = [r for r in expected if r[0] == p["id"]]
        assert len(mine) == days
        assert 5 <= days <= 7
        assert len({r[1] for r in mine}) == days  # (post_id, date) keys are unique
    assert len(gen.weeks(expected)) == gen.SPREAD_WEEKS  # partitions per batch
    sizes = [len(json.dumps(p)) for p in posts]
    assert 8_000 < sum(sizes) / len(sizes) < 32_000  # ~16 KB posts


def test_cdc_windows_are_disjoint_and_inside_one_file():
    seen = []
    for op in range(gen.CDC_FILES * gen.CDC_SLOTS):
        lo, hi = gen.window(11, op)
        assert lo // gen.CDC_SPAN == hi // gen.CDC_SPAN
        seen.append((lo, hi))
    seen.sort()
    assert all(a[1] < b[0] for a, b in zip(seen, seen[1:]))


def test_change_batch_mix():
    rows = gen.change_batch(3, 0)
    n_null = sum(1 for r in rows if r[0] is None)
    assert 4_800 < len(rows) < 5_600
    assert n_null == (len(rows) - 2 * n_null) // 100 > 0
    keyed = [r for r in rows if r[0] is not None]
    same_seq = len(keyed) - len({(r[0], r[2]) for r in keyed})
    assert same_seq == n_null  # one same-seq repeat per NULL-key row


def test_model_matches_merge_semantics():
    m = gen.CdcModel(seed=5)
    present, absent = 10, 15  # k % 10 < 5 is present at build
    assert m.get(present) == gen.base_row(5, present)
    assert m.get(absent) is None
    batch = [
        (present, "U", 1, "O", 1.0),
        (present, "U", 1, "O", 2.0),  # same seq: the larger value wins
        (absent, "U", 3, "F", 3.0),
        (11, "U", 1, "P", 4.0),
        (11, "D", 2, None, None),  # the later delete wins over the update
        (17, "D", 2, None, None),  # delete of an absent key deletes nothing
        (None, "U", 1, "F", 5.0),
        (None, "D", 1, None, None),
    ]
    stats_, n_null = m.apply(batch)
    assert n_null == 2
    assert stats_ == {"matched": 1, "inserted": 1, "deleted": 1, "dup_target_rows_collapsed": 0}
    assert m.rows_in(10, 17) == {
        10: ("O", 2.0),
        12: gen.base_row(5, 12),
        13: gen.base_row(5, 13),
        14: gen.base_row(5, 14),
        15: ("F", 3.0),
    }
    # a replay converges: upserts now match, deletes find nothing
    stats_, _ = m.apply(batch)
    assert stats_ == {"matched": 2, "inserted": 0, "deleted": 0, "dup_target_rows_collapsed": 0}


def test_model_breaks_ties_nulls_last():
    m = gen.CdcModel(seed=0)
    m.apply([(20, "U", 1, None, 9.0), (20, "U", 1, "F", 1.0)])
    assert m.get(20) == ("F", 1.0)


def test_base_columns_agree_with_base_row():
    k, status, val = gen.base_columns(9, 2)
    assert len(k) == gen.CDC_SPAN // 2
    for i in (0, 1, 777, len(k) - 1):
        assert (status[i], val[i]) == gen.base_row(9, int(k[i]))


def test_percentile_sample_rule():
    assert stats.highest_supported_percentile(19) is None
    assert stats.highest_supported_percentile(20) == 50.0
    assert stats.highest_supported_percentile(99) == 50.0
    assert stats.highest_supported_percentile(100) == 90.0
    assert stats.highest_supported_percentile(1_000) == 99.0
    assert stats.highest_supported_percentile(10_000) == 99.9
    assert stats.percentile([1.0, 2.0, 3.0, 4.0], 50) == 2.5
    assert stats.percentile([5.0], 90) == 5.0


def test_new_bytes_counts_by_inode_and_mtime(tmp_path):
    a = tmp_path / "v1" / "a.parquet"
    a.parent.mkdir()
    a.write_bytes(b"x" * 100)
    nb = stats.NewBytes(str(tmp_path))
    assert nb.scan() == 100
    assert nb.scan() == 0
    (tmp_path / "v2").mkdir()
    os.link(a, tmp_path / "v2" / "a.parquet")  # a carry: same inode
    assert nb.scan() == 0
    b = tmp_path / "v2" / "b.parquet"
    b.write_bytes(b"y" * 30)
    assert nb.scan() == 30
    time.sleep(0.01)
    b.write_bytes(b"z" * 40)  # rewritten in place: new mtime
    assert nb.scan() == 40


def test_output_names_match_benchmark_json():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == ["etl_posts", "cdc_merge"]
