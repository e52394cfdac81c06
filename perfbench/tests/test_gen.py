"""Determinism of the seeded input generators."""

import base64
import json
import os
from collections import Counter

import pyarrow.parquet as pq

import gen


def _bytes(d):
    return {f: open(os.path.join(d, f), "rb").read() for f in sorted(os.listdir(d))}


def test_tables_same_seed_same_bytes(tmp_path):
    a = gen.write_tables(str(tmp_path / "a"), seed=7, sf=0.001)
    b = gen.write_tables(str(tmp_path / "b"), seed=7, sf=0.001)
    assert _bytes(a) == _bytes(b)
    c = gen.write_tables(str(tmp_path / "c"), seed=8, sf=0.001)
    assert _bytes(a) != _bytes(c)


def test_tables_one_file_one_row_group(tmp_path):
    d = gen.write_tables(str(tmp_path / "t"), seed=1, sf=0.001)
    assert sorted(os.listdir(d)) == sorted(f"{t}.parquet" for t in gen.TABLES)
    for t in gen.TABLES:
        assert pq.ParquetFile(os.path.join(d, f"{t}.parquet")).metadata.num_row_groups == 1


def _rows(path):
    t = pq.read_table(path)
    return [tuple(json.dumps(v, default=str) for v in r.values()) for r in t.to_pylist()]


def test_permutation_same_seed_same_bytes(tmp_path):
    base = gen.write_tables(str(tmp_path / "base"), seed=3, sf=0.001)
    a = gen.permute_tables(base, str(tmp_path / "a"), seed=11)
    b = gen.permute_tables(base, str(tmp_path / "b"), seed=11)
    assert _bytes(a) == _bytes(b)


def test_permutation_new_order_same_multiset(tmp_path):
    base = gen.write_tables(str(tmp_path / "base"), seed=3, sf=0.001)
    a = gen.permute_tables(base, str(tmp_path / "a"), seed=11)
    b = gen.permute_tables(base, str(tmp_path / "b"), seed=12)
    for t in ("lineitem", "documents", "embeddings", "events"):
        ra, rb = _rows(f"{a}/{t}.parquet"), _rows(f"{b}/{t}.parquet")
        assert ra != rb, t
        assert Counter(ra) == Counter(rb) == Counter(_rows(f"{base}/{t}.parquet")), t
        assert pq.ParquetFile(f"{a}/{t}.parquet").metadata.num_row_groups == 1


def _files(seed, n=30):
    traffic = gen.EnvelopeTraffic(seed)
    return [traffic.next_file(40) for _ in range(n)], traffic.expected


def test_traffic_same_seed_same_messages():
    (fa, ea), (fb, eb) = _files(5), _files(5)
    assert json.dumps(fa) == json.dumps(fb)
    assert ea == eb
    fc, _ = _files(6)
    assert json.dumps(fa) != json.dumps(fc)


def test_traffic_expected_outcome_matches_messages():
    files, exp = _files(9, n=60)
    msgs = [m for f in files for m in f]
    assert exp.sent == len(msgs)
    keys, malformed = [], 0
    for m in msgs:
        try:
            env = json.loads(base64.b64decode(m["data"]))
        except ValueError:
            malformed += 1
            continue
        p = env["payload"]
        if "tenant_id" not in env or env["occurred_at"] == "not-a-date" or not (p.get("call_id") or p.get("message_id")):
            malformed += 1
            continue
        keys.append(p.get("call_id") or p.get("message_id"))
    assert malformed == exp.malformed > 0
    assert set(keys) == exp.keys
    assert len(keys) - len(set(keys)) == exp.duplicates > 0
    # retries both within a file and across files
    first_file = {}
    same = later = 0
    for i, f in enumerate(files):
        for m in f:
            if m["message_id"] in first_file:
                same += first_file[m["message_id"]] == i
                later += first_file[m["message_id"]] < i
            else:
                first_file[m["message_id"]] = i
    assert same > 0 and later > 0
