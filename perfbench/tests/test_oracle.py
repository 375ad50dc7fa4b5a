"""The oracle's expected triples and its negative control."""

import duckdb
import pytest

import gen
import oracle


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    yield c
    c.close()


def _rows(con, sql):
    return {r[0]: (r[1], r[2]) for r in con.sql(sql).fetchall()}


def test_expected_follows_the_qualification_rules(con):
    con.execute("""
        CREATE OR REPLACE TABLE t AS SELECT * FROM (VALUES
          (1, '臺灣', MAP {'name:en': 'Taiwan'}),
          (2, '臺灣', MAP {'name:zh-Hans': 'x', 'name:zh-Hant': 'y'}),
          (3, '臺灣', MAP {'name:zh-Hans': '', 'name:zh-Hant': ''}),
          (4, '臺灣', MAP {'name:zh-Hans': ''}),
          (5, 'Main Street', MAP {'name:en': 'Main Street'}),
          (6, 'Main Street', MAP {'name:zh': '台湾'}),
          (7, NULL, NULL)
        ) AS v(id, name, tags)
    """)
    got = _rows(con, oracle.expected_sql("t", "id"))
    assert got[1] == ("台湾", "臺灣")                 # converted from name
    assert got[2] == ("x", "y")                       # already back-filled
    assert got[3] == ("", "")                         # '' and '' never qualifies
    assert got[4] == ("台湾", "臺灣")                 # '' and NULL: both regenerated
    assert got[5] == (None, None)                     # no Han source
    assert got[6] == ("台湾", "臺灣")                 # name:zh is the source
    assert got[7] == (None, None)


def test_a_single_flipped_value_fails_the_check(con, tmp_path):
    gen.generate("cjk_lake", 3, str(tmp_path))
    rel = oracle.parquet(f"{tmp_path}/lake/place.parquet/*.parquet")
    expected_sql = oracle.expected_sql(rel, "id")
    expected = oracle.digest(con, expected_sql)
    # an output that holds exactly the expected values passes ...
    out = (
        f"(SELECT k AS id, MAP {{'name:zh-Hans': hans, 'name:zh-Hant': hant}} AS tags"
        f" FROM ({expected_sql}))"
    )
    assert oracle.digest(con, oracle.actual_sql(out, "id")) == expected
    # ... and the same output with one value changed does not
    assert oracle.digest(con, oracle.actual_sql(out, "id"), flip=True) != expected


def test_in_place_check_covers_every_column_and_tag(con):
    cols = ["name", "class", "region"]
    con.execute("""
        CREATE OR REPLACE TABLE cow_in AS SELECT * FROM (VALUES
          (1, '臺灣', MAP {'name:en': 'Taiwan'}, 'village', 'r01'),
          (2, '臺灣', MAP {'name:zh-Hans': 'x', 'name:zh-Hant': 'y'}, 'village', 'r02'),
          (3, 'Main Street', NULL, 'road', 'r01'),
          (4, '臺灣', MAP {'name:zh-Hans': '', 'name:en': 'T'}, 'park', 'r02')
        ) AS v(id, name, tags, class, region)
    """)
    expected = oracle.digest(con, oracle.expected_rows_sql("cow_in", "id", cols))
    good = {
        1: "MAP {'name:zh-Hant': '臺灣', 'name:en': 'Taiwan', 'name:zh-Hans': '台湾'}",
        2: "MAP {'name:zh-Hans': 'x', 'name:zh-Hant': 'y'}",
        3: "NULL",
        4: "MAP {'name:en': 'T', 'name:zh-Hans': '台湾', 'name:zh-Hant': '臺灣'}",
    }

    def out(tags, region_of_3="r01"):
        con.execute(f"""
            CREATE OR REPLACE TABLE cow_out AS SELECT * FROM (VALUES
              (1, '臺灣', {tags[1]}, 'village', 'r01'),
              (2, '臺灣', {tags[2]}, 'village', 'r02'),
              (3, 'Main Street', {tags[3]}::MAP(VARCHAR, VARCHAR), 'road', '{region_of_3}'),
              (4, '臺灣', {tags[4]}, 'park', 'r02')
            ) AS v(id, name, tags, class, region)
        """)
        return oracle.digest(con, oracle.actual_rows_sql("cow_out", "id", cols))

    # the right rows pass, whatever order the map keys are in ...
    assert out(good) == expected
    # ... a dropped tag, a lost zh value or a changed column does not
    assert out({**good, 1: "MAP {'name:zh-Hans': '台湾', 'name:zh-Hant': '臺灣'}"}) != expected
    assert out({**good, 4: "MAP {'name:en': 'T', 'name:zh-Hant': '臺灣'}"}) != expected
    assert out(good, region_of_3="r02") != expected
    assert out(good) == expected
    assert oracle.digest(
        con, oracle.actual_rows_sql("cow_out", "id", cols), flip=True
    ) != expected


def test_generator_is_deterministic_and_records_its_input(tmp_path):
    a = gen.generate("cjk_lake", 5, str(tmp_path / "a"))
    b = gen.generate("cjk_lake", 5, str(tmp_path / "b"))
    c = gen.generate("cjk_lake", 6, str(tmp_path / "c"))
    assert a["tables"] == b["tables"] and a["tables"] != c["tables"]
    assert a["qualifying_tables"] == 3 and a["files"] == 32
    assert 0.6 < a["han_fraction"] < 0.8
    assert 0.5 < a["backlog_fraction"] < 0.7
    for name in ("place", "poi"):
        part = f"lake/{name}.parquet/part-00000.parquet"
        assert (tmp_path / "a" / part).read_bytes() == (tmp_path / "b" / part).read_bytes()
