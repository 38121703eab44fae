import hashlib
import sqlite3

import numpy as np

from perfbench import gen


def _sha(path):
    with open(path, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()


def test_same_seed_gives_a_byte_identical_image(tmp_path):
    a, b, c = (str(tmp_path / n) for n in "abc")
    ma, mb = gen.make_image(a, 11, 8), gen.make_image(b, 11, 8)
    gen.make_image(c, 12, 8)
    assert _sha(a) == _sha(b) != _sha(c)
    assert ma == mb


def test_planted_files_sit_at_their_manifest_offsets(tmp_path):
    path = str(tmp_path / "img")
    m = gen.make_image(path, 3, 8)
    data = open(path, "rb").read()
    assert len(data) == m.size == 8 * gen.MIB
    assert [p.kind for p in m.planted[:3]] == ["sqlite", "sqlite", "jpeg"]
    for p in m.planted:
        assert p.offset % 4096 == 0
        assert hashlib.sha256(data[p.offset : p.offset + p.size]).hexdigest() == p.sha256


def test_history_databases_hold_the_planted_visits(tmp_path):
    rng = np.random.default_rng(5)
    rows = gen._visits(rng, "firefox", 3)
    path = tmp_path / "places.sqlite"
    path.write_bytes(gen.firefox_history_db(rows))
    con = sqlite3.connect(path)
    got = con.execute(
        "SELECT p.url, v.visit_date FROM moz_historyvisits v JOIN moz_places p ON v.place_id = p.id"
    ).fetchall()
    assert sorted(got) == sorted((v.url, v.visit_time_us) for v, _ in rows)


def test_tables_are_a_function_of_the_seed():
    a, b = gen.table_columns(4, scale=0.001), gen.table_columns(4, scale=0.001)
    assert set(a) == set(gen.TABLES)
    assert a["documents"]["text"] == b["documents"]["text"]
    assert np.array_equal(a["events"]["ts"], b["events"]["ts"])
    assert a["documents"]["text"] != gen.table_columns(5, scale=0.001)["documents"]["text"]
    lengths = [len(t.split()) for t in a["documents"]["text"]]
    assert min(lengths[: gen.NEAR_DUP_PROBES]) >= 150 > max(lengths[gen.NEAR_DUP_PROBES :])
