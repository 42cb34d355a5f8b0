"""r13: per-column MERGE SET expressions, WHEN NOT MATCHED BY SOURCE
THEN UPDATE, and named-column INSERT lists (VERDICT r12 directives
3-4) — engine semantics and the SQL front-end grammar."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from market_data_lakehouse_spark.sqlfront import LakeSQL
from market_data_lakehouse_spark.txnlog import TransactionalLake


def _lake(spark, tmp_path, name="m", **kw):
    lk = TransactionalLake(
        spark, str(tmp_path / name), partition_by=(), **kw
    )
    lk.append(
        spark.createDataFrame(
            [(1, 10.0, "a"), (2, 20.0, "b"), (3, 30.0, "c")],
            "k long, qty double, note string",
        )
    )
    return lk


def _src(spark, rows):
    return spark.createDataFrame(rows, "k long, qty double, note string")


class TestMergeSetExprs:
    def test_set_keeps_unassigned_target_columns(self, spark, tmp_path):
        lk = _lake(spark, tmp_path)
        lk.merge(
            _src(spark, [(1, 5.0, "x"), (4, 40.0, "d")]),
            on="k",
            set_exprs={"qty": "qty + source.qty"},
        )
        got = sorted(
            (r.k, r.qty, r.note) for r in lk.snapshot().collect()
        )
        # note keeps the TARGET value on matched rows (not 'x');
        # unmatched source row inserts whole-row
        assert got == [
            (1, 15.0, "a"), (2, 20.0, "b"), (3, 30.0, "c"),
            (4, 40.0, "d"),
        ]

    def test_set_exprs_dv_mode(self, spark, tmp_path):
        lk = _lake(spark, tmp_path, "dvm")
        v = lk.merge(
            _src(spark, [(2, 7.0, "q")]),
            on="k",
            mode="dv",
            set_exprs={"qty": "qty * source.qty",
                       "note": "upper(source.note)"},
        )
        got = sorted(
            (r.k, r.qty, r.note) for r in lk.snapshot().collect()
        )
        assert got == [(1, 10.0, "a"), (2, 140.0, "Q"), (3, 30.0, "c")]
        assert lk._read_commit(v).get("dv")  # merge-on-read, not CoW

    def test_set_exprs_requires_update(self, spark, tmp_path):
        lk = _lake(spark, tmp_path, "req")
        with pytest.raises(ValueError, match="when_matched='update'"):
            lk.merge(
                _src(spark, [(1, 0.0, "x")]),
                on="k",
                when_matched="delete",
                set_exprs={"qty": "qty"},
            )

    def test_set_exprs_unknown_column(self, spark, tmp_path):
        lk = _lake(spark, tmp_path, "unk")
        with pytest.raises(ValueError, match="unknown target columns"):
            lk.merge(
                _src(spark, [(1, 0.0, "x")]),
                on="k",
                set_exprs={"nope": "1"},
            )

    def test_set_exprs_store_assign_cast(self, spark, tmp_path):
        """An integer-typed expression store-assigns to the DOUBLE
        column instead of evolving the type."""
        lk = _lake(spark, tmp_path, "cast")
        lk.merge(
            _src(spark, [(1, 0.0, "x")]),
            on="k",
            set_exprs={"qty": "42"},
        )
        snap = lk.snapshot()
        assert dict(snap.dtypes)["qty"] == "double"
        assert snap.filter("k = 1").first()["qty"] == 42.0


class TestMergeBySourceUpdate:
    def test_by_source_update(self, spark, tmp_path):
        lk = _lake(spark, tmp_path, "bsu")
        lk.merge(
            _src(spark, [(1, 0.0, "z")]),
            on="k",
            set_exprs={"qty": "qty"},  # matched rows unchanged
            when_not_matched="ignore",
            when_not_matched_by_source="update",
            by_source_set={"note": "'stale'", "qty": "qty * 2"},
        )
        got = sorted(
            (r.k, r.qty, r.note) for r in lk.snapshot().collect()
        )
        assert got == [
            (1, 10.0, "a"), (2, 40.0, "stale"), (3, 60.0, "stale"),
        ]

    def test_by_source_update_requires_set(self, spark, tmp_path):
        lk = _lake(spark, tmp_path, "bsr")
        with pytest.raises(ValueError, match="requires by_source_set"):
            lk.merge(
                _src(spark, [(1, 0.0, "x")]),
                on="k",
                when_not_matched_by_source="update",
            )

    def test_by_source_set_refuses_source_refs(self, spark, tmp_path):
        lk = _lake(spark, tmp_path, "bss")
        with pytest.raises(ValueError, match="target columns only"):
            lk.merge(
                _src(spark, [(1, 0.0, "x")]),
                on="k",
                when_not_matched_by_source="update",
                by_source_set={"qty": "source.qty"},
            )

    def test_by_source_update_refuses_dv(self, spark, tmp_path):
        lk = _lake(spark, tmp_path, "bsd")
        with pytest.raises(ValueError, match="mode='rewrite'"):
            lk.merge(
                _src(spark, [(1, 0.0, "x")]),
                on="k",
                mode="dv",
                when_not_matched_by_source="update",
                by_source_set={"qty": "qty"},
            )

    def test_by_source_update_cdc_preimages(self, spark, tmp_path):
        """Rewrite-path CDC: the updated rows' preimages emit as
        deletes and postimages as inserts (file-grained, like the
        delete variant)."""
        lk = _lake(spark, tmp_path, "cdc")
        v = lk.merge(
            _src(spark, [(1, 0.0, "z")]),
            on="k",
            set_exprs={"qty": "qty"},
            when_not_matched="ignore",
            when_not_matched_by_source="update",
            by_source_set={"note": "'stale'"},
        )
        ch = lk.read_changes(starting_version=v, ending_version=v)
        pre = {
            (r.k, r.note)
            for r in ch.filter("_change_type = 'delete'").collect()
        }
        post = {
            (r.k, r.note)
            for r in ch.filter("_change_type = 'insert'").collect()
        }
        assert {(2, "b"), (3, "c")} <= pre
        assert {(2, "stale"), (3, "stale")} <= post

    def test_by_source_update_row_tracking(self, spark, tmp_path):
        """Updated rows keep their ids and reset their commit
        version; matched rows keep both."""
        lk = TransactionalLake(
            spark, str(tmp_path / "rt"), partition_by=()
        )
        lk.enable_row_tracking()
        lk.append(
            spark.createDataFrame(
                [(1, 10.0, "a"), (2, 20.0, "b")],
                "k long, qty double, note string",
            )
        )
        ids0 = {
            r.k: r._row_id
            for r in lk.snapshot(with_row_ids=True).collect()
        }
        v = lk.merge(
            _src(spark, [(1, 0.0, "z")]),
            on="k",
            set_exprs={"qty": "qty"},
            when_not_matched="ignore",
            when_not_matched_by_source="update",
            by_source_set={"note": "'stale'"},
        )
        rows = {
            r.k: r for r in lk.snapshot(with_row_ids=True).collect()
        }
        assert rows[2]._row_id == ids0[2]  # id survives the update
        assert rows[2]._row_commit_version == v  # version resets


class TestSqlMergeGrammar:
    def _front(self, spark, tmp_path, name="t"):
        fr = LakeSQL(spark)
        fr.sql(
            f"CREATE TABLE {name} (k BIGINT, qty DOUBLE, "
            f"note STRING DEFAULT 'fresh') "
            f"LOCATION '{tmp_path / name}'"
        )
        fr.sql(
            f"INSERT INTO {name} VALUES (1, 10.0, 'a'), "
            "(2, 20.0, 'b'), (3, 30.0, 'c')"
        )
        return fr

    def test_update_set_assignments(self, spark, tmp_path):
        fr = self._front(spark, tmp_path)
        fr.sql(
            "MERGE INTO t USING (SELECT CAST(1 AS BIGINT) AS k, "
            "CAST(5.0 AS DOUBLE) AS qty, 'x' AS note "
            "UNION ALL SELECT 4, 40.0, 'd') AS s ON t.k = s.k "
            "WHEN MATCHED THEN UPDATE SET qty = t.qty + s.qty, "
            "note = upper(t.note) "
            "WHEN NOT MATCHED THEN INSERT *"
        )
        got = sorted(
            (r.k, r.qty, r.note)
            for r in fr.sql("SELECT * FROM t").collect()
        )
        assert got == [
            (1, 15.0, "A"), (2, 20.0, "b"), (3, 30.0, "c"),
            (4, 40.0, "d"),
        ]

    def test_by_source_update_sql(self, spark, tmp_path):
        fr = self._front(spark, tmp_path, "u")
        fr.sql(
            "MERGE INTO u USING (SELECT CAST(1 AS BIGINT) AS k, "
            "CAST(0.0 AS DOUBLE) AS qty, 'z' AS note) AS s "
            "ON u.k = s.k "
            "WHEN MATCHED THEN UPDATE SET qty = u.qty "
            "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET "
            "note = 'stale', qty = qty * 2"
        )
        got = sorted(
            (r.k, r.qty, r.note)
            for r in fr.sql("SELECT * FROM u").collect()
        )
        assert got == [
            (1, 10.0, "a"), (2, 40.0, "stale"), (3, 60.0, "stale"),
        ]

    def test_case_when_inside_set(self, spark, tmp_path):
        """CASE WHEN in a SET expression must not split the clause
        parser."""
        fr = self._front(spark, tmp_path, "cw")
        fr.sql(
            "MERGE INTO cw USING (SELECT CAST(2 AS BIGINT) AS k, "
            "CAST(1.0 AS DOUBLE) AS qty, 'q' AS note) AS s "
            "ON cw.k = s.k "
            "WHEN MATCHED THEN UPDATE SET note = CASE WHEN "
            "cw.qty > 30 THEN 'big' ELSE 'small' END"
        )
        got = {
            r.k: r.note for r in fr.sql("SELECT * FROM cw").collect()
        }
        assert got[2] == "small" and got[1] == "a"

    def test_unqualified_binds_target(self, spark, tmp_path):
        fr = self._front(spark, tmp_path, "uq")
        fr.sql(
            "MERGE INTO uq USING (SELECT CAST(1 AS BIGINT) AS k, "
            "CAST(99.0 AS DOUBLE) AS qty, 'z' AS note) AS s "
            "ON uq.k = s.k "
            "WHEN MATCHED THEN UPDATE SET qty = qty + 1"
        )
        got = {
            r.k: r.qty for r in fr.sql("SELECT * FROM uq").collect()
        }
        assert got[1] == 11.0  # target qty + 1, NOT source 99

    def test_assign_source_column_refuses(self, spark, tmp_path):
        fr = self._front(spark, tmp_path, "asr")
        with pytest.raises(ValueError, match="SOURCE column"):
            fr.sql(
                "MERGE INTO asr USING (SELECT CAST(1 AS BIGINT) AS k,"
                " CAST(0.0 AS DOUBLE) AS qty, 'z' AS note) AS s "
                "ON asr.k = s.k "
                "WHEN MATCHED THEN UPDATE SET s.qty = 1"
            )

    def test_by_source_star_refuses(self, spark, tmp_path):
        fr = self._front(spark, tmp_path, "bst")
        with pytest.raises(ValueError, match="meaningless"):
            fr.sql(
                "MERGE INTO bst USING (SELECT CAST(1 AS BIGINT) AS k,"
                " CAST(0.0 AS DOUBLE) AS qty, 'z' AS note) AS s "
                "ON bst.k = s.k "
                "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET *"
            )

    def test_string_literal_with_dot_protected(self, spark, tmp_path):
        fr = self._front(spark, tmp_path, "lit")
        fr.sql(
            "MERGE INTO lit USING (SELECT CAST(1 AS BIGINT) AS k, "
            "CAST(0.0 AS DOUBLE) AS qty, 'z' AS note) AS s "
            "ON lit.k = s.k "
            "WHEN MATCHED THEN UPDATE SET note = 's.not_a_ref'"
        )
        got = {
            r.k: r.note for r in fr.sql("SELECT * FROM lit").collect()
        }
        assert got[1] == "s.not_a_ref"


class TestSqlNamedInsert:
    def test_named_columns_default_and_null(self, spark, tmp_path):
        fr = LakeSQL(spark)
        fr.sql(
            "CREATE TABLE ni (k BIGINT, qty DOUBLE, "
            "note STRING DEFAULT 'fresh') "
            f"LOCATION '{tmp_path / 'ni'}'"
        )
        fr.sql("INSERT INTO ni (k, qty) VALUES (1, 10.0)")
        fr.sql("INSERT INTO ni (note, k) VALUES ('n2', 2)")
        got = sorted(
            (r.k, r.qty, r.note)
            for r in fr.sql("SELECT * FROM ni").collect()
        )
        # omitted note -> DEFAULT; omitted qty (no default) -> NULL;
        # list order binds positionally
        assert got == [(1, 10.0, "fresh"), (2, None, "n2")]

    def test_named_insert_select_source(self, spark, tmp_path):
        fr = LakeSQL(spark)
        fr.sql(
            "CREATE TABLE ns (k BIGINT, qty DOUBLE, note STRING) "
            f"LOCATION '{tmp_path / 'ns'}'"
        )
        fr.sql("INSERT INTO ns VALUES (1, 1.0, 'x')")
        fr.sql(
            "INSERT INTO ns (k, note) "
            "SELECT k + 10, upper(note) FROM ns"
        )
        got = sorted(
            (r.k, r.qty, r.note)
            for r in fr.sql("SELECT * FROM ns").collect()
        )
        assert got == [(1, 1.0, "x"), (11, None, "X")]

    def test_unknown_column_refuses(self, spark, tmp_path):
        fr = LakeSQL(spark)
        fr.sql(
            "CREATE TABLE nu (k BIGINT, v DOUBLE) "
            f"LOCATION '{tmp_path / 'nu'}'"
        )
        with pytest.raises(ValueError, match="references"):
            fr.sql("INSERT INTO nu (k, nope) VALUES (1, 2)")

    def test_arity_mismatch_refuses(self, spark, tmp_path):
        fr = LakeSQL(spark)
        fr.sql(
            "CREATE TABLE na (k BIGINT, v DOUBLE) "
            f"LOCATION '{tmp_path / 'na'}'"
        )
        with pytest.raises(ValueError, match="arity"):
            fr.sql("INSERT INTO na (k) VALUES (1, 2)")

    def test_duplicate_column_refuses(self, spark, tmp_path):
        fr = LakeSQL(spark)
        fr.sql(
            "CREATE TABLE nd (k BIGINT, v DOUBLE) "
            f"LOCATION '{tmp_path / 'nd'}'"
        )
        with pytest.raises(ValueError, match="twice"):
            fr.sql("INSERT INTO nd (k, k) VALUES (1, 2)")

    def test_not_null_still_enforced(self, spark, tmp_path):
        fr = LakeSQL(spark)
        fr.sql(
            "CREATE TABLE nn (k BIGINT NOT NULL, v DOUBLE) "
            f"LOCATION '{tmp_path / 'nn'}'"
        )
        with pytest.raises(Exception, match="not_null|constraint"):
            fr.sql("INSERT INTO nn (v) VALUES (1.5)")


class TestMergeNamedInsert:
    """r13: WHEN NOT MATCHED THEN INSERT (cols) VALUES (exprs) —
    named columns evaluate over the unmatched source row, unnamed
    columns insert NULL (Delta's unspecified-column rule)."""

    def test_named_insert_rewrite(self, spark, tmp_path):
        lk = _lake(spark, tmp_path, "ni")
        lk.merge(
            _src(spark, [(1, 5.0, "x"), (4, 40.0, "d")]),
            on="k",
            insert_values={"k": "k", "qty": "source.qty * 2"},
        )
        got = sorted(
            (r.k, r.qty, r.note) for r in lk.snapshot().collect()
        )
        # matched row 1 still whole-row updates; unmatched row 4
        # inserts only (k, qty*2), note NULL
        assert got == [
            (1, 5.0, "x"), (2, 20.0, "b"), (3, 30.0, "c"),
            (4, 80.0, None),
        ]

    def test_named_insert_dv_mode(self, spark, tmp_path):
        lk = _lake(spark, tmp_path, "nidv")
        lk.merge(
            _src(spark, [(9, 1.0, "w")]),
            on="k",
            mode="dv",
            insert_values={"k": "k", "note": "upper(source.note)"},
        )
        got = sorted(
            (r.k, r.qty, r.note) for r in lk.snapshot().collect()
        )
        assert (9, None, "W") in got and len(got) == 4

    def test_named_insert_empty_table(self, spark, tmp_path):
        """Empty of FILES but with a committed schema: unnamed
        columns null-fill via _conform. (A wholly schemaless table
        takes the projection AS the schema — first write defines.)"""
        lk = TransactionalLake(
            spark, str(tmp_path / "nie"), partition_by=()
        )
        lk.append(
            spark.createDataFrame([(0, 0.0)], "k long, v double")
        )
        lk.delete_where("true")
        lk.merge(
            spark.createDataFrame([(7, 3.0)], "k long, v double"),
            on="k",
            insert_values={"k": "k"},
        )
        assert [(r.k, r.v) for r in lk.snapshot().collect()] == [
            (7, None)
        ]

    def test_named_insert_unknown_column(self, spark, tmp_path):
        lk = _lake(spark, tmp_path, "niu")
        with pytest.raises(ValueError, match="unknown target columns"):
            lk.merge(
                _src(spark, [(9, 1.0, "w")]),
                on="k",
                insert_values={"nope": "k"},
            )

    def test_named_insert_requires_insert(self, spark, tmp_path):
        lk = _lake(spark, tmp_path, "nir")
        with pytest.raises(
            ValueError, match="when_not_matched='insert'"
        ):
            lk.merge(
                _src(spark, [(9, 1.0, "w")]),
                on="k",
                when_not_matched="ignore",
                insert_values={"k": "k"},
            )

    def test_sql_named_insert(self, spark, tmp_path):
        fr = LakeSQL(spark)
        fr.sql(
            "CREATE TABLE mni (k BIGINT, qty DOUBLE, note STRING) "
            f"LOCATION '{tmp_path / 'mni'}'"
        )
        fr.sql("INSERT INTO mni VALUES (1, 10.0, 'a')")
        fr.sql(
            "MERGE INTO mni USING (SELECT CAST(2 AS BIGINT) AS k, "
            "CAST(5.0 AS DOUBLE) AS qty, 'z' AS note) AS s "
            "ON mni.k = s.k "
            "WHEN MATCHED THEN UPDATE SET * "
            "WHEN NOT MATCHED THEN INSERT (k, qty) "
            "VALUES (s.k, s.qty * 2)"
        )
        got = sorted(
            (r.k, r.qty, r.note)
            for r in fr.sql("SELECT * FROM mni").collect()
        )
        assert got == [(1, 10.0, "a"), (2, 10.0, None)]

    def test_sql_target_ref_refused(self, spark, tmp_path):
        fr = LakeSQL(spark)
        fr.sql(
            "CREATE TABLE mtr (k BIGINT, v DOUBLE) "
            f"LOCATION '{tmp_path / 'mtr'}'"
        )
        fr.sql("INSERT INTO mtr VALUES (1, 1.0)")
        with pytest.raises(ValueError, match="cannot reference the target"):
            fr.sql(
                "MERGE INTO mtr USING (SELECT CAST(2 AS BIGINT) AS k,"
                " CAST(0.0 AS DOUBLE) AS v) AS s ON mtr.k = s.k "
                "WHEN NOT MATCHED THEN INSERT (k) VALUES (mtr.k)"
            )

    def test_sql_arity_mismatch(self, spark, tmp_path):
        fr = LakeSQL(spark)
        fr.sql(
            "CREATE TABLE mam (k BIGINT, v DOUBLE) "
            f"LOCATION '{tmp_path / 'mam'}'"
        )
        fr.sql("INSERT INTO mam VALUES (1, 1.0)")
        with pytest.raises(ValueError, match="arity"):
            fr.sql(
                "MERGE INTO mam USING (SELECT CAST(2 AS BIGINT) AS k,"
                " CAST(0.0 AS DOUBLE) AS v) AS s ON mam.k = s.k "
                "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k)"
            )


class TestMergeClauseConditions:
    """r13: WHEN ... AND <cond> THEN — one clause per type, each
    optionally conditioned. Rows where the condition is not TRUE are
    untouched by that clause (NULL = untouched, SQL's three-valued
    guard); a condition-failing matched row is still 'matched' for
    the insert anti-join."""

    def test_matched_update_condition(self, spark, tmp_path):
        lk = _lake(spark, tmp_path, "mc")
        lk.merge(
            _src(spark, [(1, 1.0, "x"), (2, 2.0, "y")]),
            on="k",
            matched_condition="qty > 15",
            when_not_matched="ignore",
        )
        got = sorted(
            (r.k, r.qty, r.note) for r in lk.snapshot().collect()
        )
        # only k=2 (target qty 20 > 15) takes the whole-row update
        assert got == [
            (1, 10.0, "a"), (2, 2.0, "y"), (3, 30.0, "c"),
        ]

    def test_matched_condition_source_refs(self, spark, tmp_path):
        lk = _lake(spark, tmp_path, "mcs")
        lk.merge(
            _src(spark, [(1, 100.0, "x"), (2, 0.0, "y")]),
            on="k",
            set_exprs={"note": "source.note"},
            matched_condition="source.qty > 50",
            when_not_matched="ignore",
        )
        got = {r.k: r.note for r in lk.snapshot().collect()}
        assert got == {1: "x", 2: "b", 3: "c"}

    def test_matched_delete_condition(self, spark, tmp_path):
        lk = _lake(spark, tmp_path, "mdc")
        lk.merge(
            _src(spark, [(1, 0.0, "x"), (2, 0.0, "y")]),
            on="k",
            when_matched="delete",
            matched_condition="qty > 15",
            when_not_matched="ignore",
        )
        got = sorted(r.k for r in lk.snapshot().collect())
        assert got == [1, 3]  # only k=2 (qty 20 > 15) deleted

    def test_failed_condition_still_blocks_insert(self, spark, tmp_path):
        lk = _lake(spark, tmp_path, "fci")
        lk.merge(
            _src(spark, [(1, 0.0, "x")]),
            on="k",
            matched_condition="qty > 1000",  # never true
        )
        # k=1 is matched (condition failed -> untouched) so its
        # source row must NOT insert as a duplicate
        assert sorted(r.k for r in lk.snapshot().collect()) == [1, 2, 3]

    def test_not_matched_condition(self, spark, tmp_path):
        lk = _lake(spark, tmp_path, "nmc")
        lk.merge(
            _src(spark, [(8, 1.0, "u"), (9, 9.0, "v")]),
            on="k",
            not_matched_condition="source.qty > 5",
        )
        got = sorted(r.k for r in lk.snapshot().collect())
        assert got == [1, 2, 3, 9]  # 8 filtered by the condition

    def test_by_source_conditions(self, spark, tmp_path):
        lk = _lake(spark, tmp_path, "bsc")
        lk.merge(
            _src(spark, [(1, 0.0, "x")]),
            on="k",
            set_exprs={"qty": "qty"},
            when_not_matched="ignore",
            when_not_matched_by_source="update",
            by_source_set={"note": "'stale'"},
            by_source_condition="qty > 25",
        )
        got = {r.k: r.note for r in lk.snapshot().collect()}
        assert got == {1: "a", 2: "b", 3: "stale"}

    def test_by_source_delete_condition(self, spark, tmp_path):
        lk = _lake(spark, tmp_path, "bsdc")
        lk.merge(
            _src(spark, [(1, 0.0, "x")]),
            on="k",
            set_exprs={"qty": "qty"},
            when_not_matched="ignore",
            when_not_matched_by_source="delete",
            by_source_condition="qty > 25",
        )
        got = sorted(r.k for r in lk.snapshot().collect())
        assert got == [1, 2]  # only k=3 (qty 30) deleted

    def test_dv_matched_condition(self, spark, tmp_path):
        lk = _lake(spark, tmp_path, "dvc")
        v = lk.merge(
            _src(spark, [(1, 0.0, "w"), (3, 0.0, "z")]),
            on="k",
            mode="dv",
            set_exprs={"note": "source.note"},
            matched_condition="qty > 15",
            when_not_matched="ignore",
        )
        got = {r.k: r.note for r in lk.snapshot().collect()}
        assert got == {1: "a", 2: "b", 3: "z"}
        # the dv hides exactly ONE row (the condition-passing match)
        dv = lk._read_commit(v).get("dv", {})
        assert sum(len(p) for p in dv.values()) == 1

    def test_by_source_condition_refuses_source_refs(
        self, spark, tmp_path
    ):
        lk = _lake(spark, tmp_path, "bscr")
        with pytest.raises(ValueError, match="target columns only"):
            lk.merge(
                _src(spark, [(1, 0.0, "x")]),
                on="k",
                when_not_matched_by_source="delete",
                by_source_condition="source.qty > 1",
            )

    def test_sql_clause_conditions(self, spark, tmp_path):
        fr = LakeSQL(spark)
        fr.sql(
            "CREATE TABLE cc (k BIGINT, qty DOUBLE, note STRING) "
            f"LOCATION '{tmp_path / 'cc'}'"
        )
        fr.sql(
            "INSERT INTO cc VALUES (1, 10.0, 'a'), (2, 20.0, 'b'), "
            "(3, 30.0, 'c')"
        )
        fr.sql(
            "MERGE INTO cc USING (SELECT CAST(1 AS BIGINT) AS k, "
            "CAST(1.0 AS DOUBLE) AS qty, 'x' AS note "
            "UNION ALL SELECT 2, 2.0, 'y' "
            "UNION ALL SELECT 4, 4.0, 'd' "
            "UNION ALL SELECT 5, 1.0, 'e') AS s ON cc.k = s.k "
            "WHEN MATCHED AND cc.qty > 15 THEN UPDATE SET "
            "note = s.note "
            "WHEN NOT MATCHED AND s.qty > 3 THEN INSERT * "
            "WHEN NOT MATCHED BY SOURCE AND qty > 25 THEN "
            "UPDATE SET note = 'heavy'"
        )
        got = sorted(
            (r.k, r.qty, r.note)
            for r in fr.sql("SELECT * FROM cc").collect()
        )
        assert got == [
            (1, 10.0, "a"),   # matched, cond false -> untouched
            (2, 20.0, "y"),   # matched, cond true -> SET
            (3, 30.0, "heavy"),  # unmatched target, qty > 25
            (4, 4.0, "d"),    # insert cond true
            # 5 filtered by the insert condition
        ]


class TestDuplicateClauseRefused:
    def test_duplicate_not_matched_refuses(self, spark, tmp_path):
        """Multiple WHEN MATCHED clauses dispatch first-true-wins
        (r13); the NOT MATCHED / BY SOURCE types stay one-per-
        statement and a duplicate refuses instead of silently
        overwriting."""
        fr = LakeSQL(spark)
        fr.sql(
            "CREATE TABLE dc (k BIGINT, v DOUBLE) "
            f"LOCATION '{tmp_path / 'dc'}'"
        )
        fr.sql("INSERT INTO dc VALUES (1, 1.0)")
        with pytest.raises(
            ValueError, match="duplicate WHEN NOT MATCHED"
        ):
            fr.sql(
                "MERGE INTO dc USING (SELECT CAST(2 AS BIGINT) AS k, "
                "CAST(0.0 AS DOUBLE) AS v) AS s ON dc.k = s.k "
                "WHEN NOT MATCHED AND s.v > 5 THEN INSERT * "
                "WHEN NOT MATCHED THEN INSERT *"
            )

    def test_unconditioned_non_last_matched_refuses(
        self, spark, tmp_path
    ):
        fr = LakeSQL(spark)
        fr.sql(
            "CREATE TABLE dc2 (k BIGINT, v DOUBLE) "
            f"LOCATION '{tmp_path / 'dc2'}'"
        )
        fr.sql("INSERT INTO dc2 VALUES (1, 1.0)")
        with pytest.raises(ValueError, match="unreachable"):
            fr.sql(
                "MERGE INTO dc2 USING (SELECT CAST(1 AS BIGINT) AS k,"
                " CAST(0.0 AS DOUBLE) AS v) AS s ON dc2.k = s.k "
                "WHEN MATCHED THEN UPDATE SET * "
                "WHEN MATCHED AND dc2.v > 5 THEN DELETE"
            )


class TestMultiClauseMerge:
    """r13: ordered WHEN MATCHED clauses, first-true-wins (Delta
    multi-clause MERGE) — the canonical CDC tombstone apply."""

    def _tomb(self, spark, rows):
        return spark.createDataFrame(
            rows, "k long, qty double, deleted boolean"
        )

    def _lake3(self, spark, tmp_path, name):
        lk = TransactionalLake(
            spark, str(tmp_path / name), partition_by=()
        )
        lk.append(
            self._tomb(
                spark,
                [(1, 10.0, False), (2, 20.0, False), (3, 30.0, False)],
            )
        )
        return lk

    def test_cdc_tombstone_apply(self, spark, tmp_path):
        lk = self._lake3(spark, tmp_path, "ts")
        lk.merge(
            self._tomb(
                spark,
                [(1, 99.0, False), (2, 0.0, True), (4, 40.0, False)],
            ),
            on="k",
            matched_clauses=[
                {"action": "delete", "condition": "source.deleted"},
                {"action": "update"},
            ],
        )
        got = sorted((r.k, r.qty) for r in lk.snapshot().collect())
        # 1 whole-row updated, 2 tombstoned, 3 untouched, 4 inserted
        assert got == [(1, 99.0), (3, 30.0), (4, 40.0)]

    def test_first_true_wins_order(self, spark, tmp_path):
        lk = self._lake3(spark, tmp_path, "ftw")
        lk.merge(
            self._tomb(spark, [(3, 5.0, False)]),
            on="k",
            when_not_matched="ignore",
            matched_clauses=[
                {"action": "update", "condition": "qty > 25",
                 "set": {"qty": "0.0"}},
                # also true for k=3 (30 > 20) but the FIRST clause
                # already claimed the row
                {"action": "update", "condition": "qty > 20",
                 "set": {"qty": "qty + source.qty"}},
                {"action": "delete"},
            ],
        )
        got = {r.k: r.qty for r in lk.snapshot().collect()}
        assert got[3] == 0.0

    def test_dv_mode_multi_clause(self, spark, tmp_path):
        lk = self._lake3(spark, tmp_path, "dvm")
        v = lk.merge(
            self._tomb(spark, [(2, 0.0, True), (3, 7.0, False)]),
            on="k",
            mode="dv",
            when_not_matched="ignore",
            matched_clauses=[
                {"action": "delete", "condition": "source.deleted"},
                {"action": "update",
                 "set": {"qty": "qty + source.qty"}},
            ],
        )
        got = sorted((r.k, r.qty) for r in lk.snapshot().collect())
        assert got == [(1, 10.0), (3, 37.0)]
        dv = lk._read_commit(v).get("dv", {})
        # both fired rows (tombstone + update preimage) are hidden
        assert sum(len(p) for p in dv.values()) == 2

    def test_unconditioned_non_last_refused(self, spark, tmp_path):
        lk = self._lake3(spark, tmp_path, "unr")
        with pytest.raises(ValueError, match="unreachable"):
            lk.merge(
                self._tomb(spark, [(1, 0.0, False)]),
                on="k",
                matched_clauses=[
                    {"action": "update"},
                    {"action": "delete", "condition": "qty > 5"},
                ],
            )

    def test_supersedes_scalar_params(self, spark, tmp_path):
        lk = self._lake3(spark, tmp_path, "sup")
        with pytest.raises(ValueError, match="supersedes"):
            lk.merge(
                self._tomb(spark, [(1, 0.0, False)]),
                on="k",
                set_exprs={"qty": "qty"},
                matched_clauses=[{"action": "update"}],
            )

    def test_sql_tombstone_apply(self, spark, tmp_path):
        fr = LakeSQL(spark)
        fr.sql(
            "CREATE TABLE mc2 (k BIGINT, qty DOUBLE, "
            "deleted BOOLEAN) "
            f"LOCATION '{tmp_path / 'mc2'}'"
        )
        fr.sql(
            "INSERT INTO mc2 VALUES (1, 10.0, false), "
            "(2, 20.0, false), (3, 30.0, false)"
        )
        fr.sql(
            "MERGE INTO mc2 USING (SELECT CAST(1 AS BIGINT) AS k, "
            "CAST(99.0 AS DOUBLE) AS qty, false AS deleted "
            "UNION ALL SELECT 2, 0.0, true "
            "UNION ALL SELECT 4, 40.0, false) AS s ON mc2.k = s.k "
            "WHEN MATCHED AND s.deleted THEN DELETE "
            "WHEN MATCHED THEN UPDATE SET * "
            "WHEN NOT MATCHED THEN INSERT *"
        )
        got = sorted(
            (r.k, r.qty)
            for r in fr.sql("SELECT * FROM mc2").collect()
        )
        assert got == [(1, 99.0), (3, 30.0), (4, 40.0)]

    def test_row_tracking_multi_clause(self, spark, tmp_path):
        """Fired update keeps the row id and resets its version;
        unfired rows keep both."""
        lk = TransactionalLake(
            spark, str(tmp_path / "rtm"), partition_by=()
        )
        lk.enable_row_tracking()
        lk.append(
            self._tomb(
                spark, [(1, 10.0, False), (2, 20.0, False)]
            )
        )
        ids0 = {
            r.k: (r._row_id, r._row_commit_version)
            for r in lk.snapshot(with_row_ids=True).collect()
        }
        v = lk.merge(
            self._tomb(spark, [(2, 5.0, False)]),
            on="k",
            when_not_matched="ignore",
            matched_clauses=[
                {"action": "delete", "condition": "source.deleted"},
                {"action": "update",
                 "set": {"qty": "qty + source.qty"}},
            ],
        )
        rows = {
            r.k: r for r in lk.snapshot(with_row_ids=True).collect()
        }
        assert rows[2]._row_id == ids0[2][0]
        assert rows[2]._row_commit_version == v
        assert rows[2].qty == 25.0


class TestSubqueryDML:
    """r13: DELETE/UPDATE ... WHERE col IN (SELECT ...) — routed
    through the merge engine (matched keys act, scoped by the
    residual AND-conjuncts as the matched-clause condition)."""

    def _setup(self, spark, tmp_path, name):
        fr = LakeSQL(spark)
        fr.sql(
            f"CREATE TABLE {name} (k BIGINT, v DOUBLE, cat STRING) "
            f"LOCATION '{tmp_path / name}'"
        )
        fr.sql(
            f"INSERT INTO {name} VALUES (1, 1.0, 'a'), (2, 2.0, 'b'),"
            " (3, 3.0, 'a'), (4, 4.0, 'b')"
        )
        fr.sql(
            f"CREATE TABLE {name}_pick (k BIGINT) "
            f"LOCATION '{tmp_path / (name + '_p')}'"
        )
        fr.sql(f"INSERT INTO {name}_pick VALUES (2), (3), (4)")
        return fr

    def test_delete_in_subquery_with_residual(self, spark, tmp_path):
        fr = self._setup(spark, tmp_path, "sq1")
        fr.sql(
            "DELETE FROM sq1 WHERE k IN "
            "(SELECT k FROM sq1_pick WHERE k < 4) AND cat = 'a'"
        )
        got = sorted(
            r.k for r in fr.sql("SELECT * FROM sq1").collect()
        )
        assert got == [1, 2, 4]  # only k=3 (picked AND cat a) goes

    def test_update_in_subquery(self, spark, tmp_path):
        fr = self._setup(spark, tmp_path, "sq2")
        fr.sql(
            "UPDATE sq2 SET v = v * 10 "
            "WHERE k IN (SELECT k FROM sq2_pick)"
        )
        got = {
            r.k: r.v for r in fr.sql("SELECT * FROM sq2").collect()
        }
        assert got == {1: 1.0, 2: 20.0, 3: 30.0, 4: 40.0}

    def test_duplicate_subquery_keys_no_row_duplication(
        self, spark, tmp_path
    ):
        fr = self._setup(spark, tmp_path, "sq3")
        # the subquery yields k=2 twice; the update must not
        # duplicate the row
        fr.sql(
            "UPDATE sq3 SET v = 0.0 WHERE k IN "
            "(SELECT k FROM sq3_pick UNION ALL "
            "SELECT k FROM sq3_pick WHERE k = 2)"
        )
        assert fr.sql("SELECT COUNT(*) AS n FROM sq3").first()["n"] == 4

    def test_not_in_refused(self, spark, tmp_path):
        fr = self._setup(spark, tmp_path, "sq4")
        with pytest.raises(ValueError, match="NOT IN"):
            fr.sql(
                "DELETE FROM sq4 WHERE k NOT IN "
                "(SELECT k FROM sq4_pick)"
            )

    def test_or_with_subquery_refused(self, spark, tmp_path):
        fr = self._setup(spark, tmp_path, "sq5")
        with pytest.raises(ValueError, match="unsupported subquery"):
            fr.sql(
                "DELETE FROM sq5 WHERE cat = 'a' OR k IN "
                "(SELECT k FROM sq5_pick)"
            )

    def test_multi_column_subquery_refused(self, spark, tmp_path):
        fr = self._setup(spark, tmp_path, "sq6")
        with pytest.raises(ValueError, match="exactly one column"):
            fr.sql(
                "DELETE FROM sq6 WHERE k IN "
                "(SELECT k, k FROM sq6_pick)"
            )

    def test_null_key_rows_kept(self, spark, tmp_path):
        """SQL IN: a NULL key never matches — the row survives."""
        fr = LakeSQL(spark)
        fr.sql(
            "CREATE TABLE sq7 (k BIGINT, v DOUBLE) "
            f"LOCATION '{tmp_path / 'sq7'}'"
        )
        fr.sql("INSERT INTO sq7 VALUES (1, 1.0), (NULL, 9.0)")
        fr.sql(
            "DELETE FROM sq7 WHERE k IN (SELECT CAST(1 AS BIGINT))"
        )
        got = [
            (r.k, r.v) for r in fr.sql("SELECT * FROM sq7").collect()
        ]
        assert got == [(None, 9.0)]


class TestReviewFindsR13:
    """Fixes for the r13 in-round review finds: insert-only MERGE
    semantics, generated columns on named merge INSERT, legacy
    identity DDL round-trip, conflicting matched params."""

    def test_insert_only_merge_leaves_matched_untouched(
        self, spark, tmp_path
    ):
        """Review find 1 (silent corruption): a MERGE with no WHEN
        MATCHED clause used to whole-row-update every matched row."""
        fr = LakeSQL(spark)
        fr.sql(
            "CREATE TABLE iom (k BIGINT, v STRING) "
            f"LOCATION '{tmp_path / 'iom'}'"
        )
        fr.sql("INSERT INTO iom VALUES (1, 'old'), (2, 'keep')")
        fr.sql(
            "MERGE INTO iom USING (SELECT CAST(1 AS BIGINT) AS k, "
            "'NEW' AS v UNION ALL SELECT 3, 'ins') AS s "
            "ON iom.k = s.k "
            "WHEN NOT MATCHED THEN INSERT *"
        )
        got = sorted(
            (r.k, r.v) for r in fr.sql("SELECT * FROM iom").collect()
        )
        assert got == [(1, "old"), (2, "keep"), (3, "ins")]
        # and the commit removed NOTHING (no rewrite of live files)
        lk = fr.table("iom")
        c = lk._read_commit(lk.version)
        assert c["remove"] == []

    def test_insert_only_merge_dv_mode(self, spark, tmp_path):
        lk = _lake(spark, tmp_path, "iodv")
        v = lk.merge(
            _src(spark, [(1, 99.0, "X"), (9, 9.0, "new")]),
            on="k",
            when_matched=None,
            mode="dv",
        )
        got = sorted(
            (r.k, r.qty, r.note) for r in lk.snapshot().collect()
        )
        assert got == [
            (1, 10.0, "a"), (2, 20.0, "b"), (3, 30.0, "c"),
            (9, 9.0, "new"),
        ]
        assert lk._read_commit(v).get("dv", {}) == {}

    def test_insert_only_with_by_source(self, spark, tmp_path):
        """No matched clause + BY SOURCE: matched rows pass through
        the rewrite untouched while unmatched rows act."""
        lk = _lake(spark, tmp_path, "iobs")
        lk.merge(
            _src(spark, [(1, 99.0, "X")]),
            on="k",
            when_matched=None,
            when_not_matched="ignore",
            when_not_matched_by_source="update",
            by_source_set={"note": "'stale'"},
        )
        got = sorted(
            (r.k, r.qty, r.note) for r in lk.snapshot().collect()
        )
        assert got == [
            (1, 10.0, "a"), (2, 20.0, "stale"), (3, 30.0, "stale"),
        ]

    def test_named_insert_computes_generated(self, spark, tmp_path):
        """Review find 2 (silent corruption): named merge INSERT
        wrote NULL into GENERATED columns."""
        lk = TransactionalLake(
            spark, str(tmp_path / "gen"), partition_by=(),
            generated_columns={"g": "k * 2"},
        )
        lk.append(
            spark.createDataFrame([(1, 1.0)], "k long, v double")
        )
        lk.merge(
            spark.createDataFrame([(2, 20.0)], "k long, v double"),
            on="k",
            insert_values={"k": "k", "v": "source.v"},
        )
        got = {
            r.k: r.g for r in lk.snapshot().collect()
        }
        assert got == {1: 2, 2: 4}

    def test_named_insert_refuses_generated_assignment(
        self, spark, tmp_path
    ):
        lk = TransactionalLake(
            spark, str(tmp_path / "genr"), partition_by=(),
            generated_columns={"g": "k * 2"},
        )
        lk.append(
            spark.createDataFrame([(1, 1.0)], "k long, v double")
        )
        with pytest.raises(ValueError, match="GENERATED ALWAYS"):
            lk.merge(
                spark.createDataFrame(
                    [(2, 20.0)], "k long, v double"
                ),
                on="k",
                insert_values={"k": "k", "g": "99"},
            )

    def test_matched_clauses_conflicting_when_matched(
        self, spark, tmp_path
    ):
        """Review find 5: a non-default when_matched alongside
        matched_clauses was silently discarded."""
        lk = _lake(spark, tmp_path, "cwm")
        with pytest.raises(ValueError, match="supersedes"):
            lk.merge(
                _src(spark, [(1, 0.0, "x")]),
                on="k",
                when_matched="delete",
                matched_clauses=[{"action": "update"}],
            )

    def test_legacy_identity_ddl_roundtrips(self, spark, tmp_path):
        """Review find 4: SHOW CREATE TABLE for a legacy stepped
        identity (no logged start) must emit DDL the front-end's own
        parser accepts — the note rides a trailing line comment the
        dispatcher strips."""
        fr = LakeSQL(spark)
        fr.sql(
            "CREATE TABLE lid (rid BIGINT GENERATED ALWAYS AS "
            "IDENTITY (INCREMENT BY 3), s STRING) "
            f"LOCATION '{tmp_path / 'lid'}'"
        )
        # simulate a pre-r13 log: drop the recorded start
        lk = fr.table("lid")
        idoc = lk.fold().identity
        assert idoc is not None
        lk._commit(
            {"op": "set_properties", "properties": {}}
        )  # no-op commit so the doc below is newest-wins via clone
        # rewrite the identity doc without 'start' (legacy shape)
        import json as _json
        import os as _os
        for name in sorted(_os.listdir(lk.log_path)):
            if not name.endswith(".json"):
                continue
            p = _os.path.join(lk.log_path, name)
            doc = _json.load(open(p))
            if doc.get("identity") and "start" in doc["identity"]:
                del doc["identity"]["start"]
                with open(p, "w") as fh:
                    _json.dump(doc, fh)
        stmt = fr.sql("SHOW CREATE TABLE lid").collect()[0][
            "createtab_stmt"
        ]
        assert "START WITH unrecorded" in stmt
        assert "START WITH 0" not in stmt
        replay = stmt.replace("lid", "lid2").replace(
            str(tmp_path / "lid"), str(tmp_path / "lid2")
        )
        fr.sql(replay)  # must parse (comment stripped)
        fr.sql("INSERT INTO lid2 VALUES ('a'), ('b')")
        ids = sorted(
            r["rid"] for r in fr.sql("SELECT rid FROM lid2").collect()
        )
        assert ids == [0, 3]

    def test_line_comments_stripped(self, spark, tmp_path):
        fr = LakeSQL(spark)
        fr.sql(
            "CREATE TABLE lc (k BIGINT, v STRING) -- trailing note\n"
            f"LOCATION '{tmp_path / 'lc'}'"
        )
        fr.sql(
            "INSERT INTO lc VALUES (1, 'a--b') -- not a delimiter "
            "inside the literal"
        )
        got = [
            (r.k, r.v) for r in fr.sql("SELECT * FROM lc").collect()
        ]
        assert got == [(1, "a--b")]


class TestGeneratedRecompute:
    """r13 (Delta parity): assigning a generated column's INPUT
    recomputes the dependent; assigning the generated column itself
    refuses."""

    def _glake(self, spark, tmp_path, name):
        lk = TransactionalLake(
            spark, str(tmp_path / name), partition_by=(),
            generated_columns={"g": "k * 2"},
        )
        lk.append(
            spark.createDataFrame(
                [(1, 1.0), (2, 2.0)], "k long, v double"
            )
        )
        return lk

    def test_update_where_recomputes(self, spark, tmp_path):
        lk = self._glake(spark, tmp_path, "gu")
        lk.update_where("v > 1.5", {"k": "k + 10"})
        got = {r.k: r.g for r in lk.snapshot().collect()}
        assert got == {1: 2, 12: 24}

    def test_update_where_dv_recomputes(self, spark, tmp_path):
        lk = self._glake(spark, tmp_path, "gud")
        lk.update_where("v > 1.5", {"k": "k + 10"}, mode="dv")
        got = {r.k: r.g for r in lk.snapshot().collect()}
        assert got == {1: 2, 12: 24}

    def test_merge_set_recomputes(self, spark, tmp_path):
        lk = self._glake(spark, tmp_path, "gm")
        lk.merge(
            spark.createDataFrame([(2, 0.0)], "k long, v double"),
            on="v",  # join on v so SET can move k
            set_exprs={"k": "k + 100"},
            when_not_matched="ignore",
        )
        got = {r.k: r.g for r in lk.snapshot().collect()}
        # no v=0.0 row matches: nothing changes
        assert got == {1: 2, 2: 4}
        lk.merge(
            spark.createDataFrame([(0, 2.0)], "k long, v double"),
            on="v",
            set_exprs={"k": "k + 100"},
            when_not_matched="ignore",
        )
        got = {r.k: r.g for r in lk.snapshot().collect()}
        assert got == {1: 2, 102: 204}

    def test_set_refuses_generated_assignment(self, spark, tmp_path):
        lk = self._glake(spark, tmp_path, "gr")
        with pytest.raises(ValueError, match="GENERATED ALWAYS"):
            lk.update_where("true", {"g": "5"})
        with pytest.raises(ValueError, match="GENERATED ALWAYS"):
            lk.merge(
                spark.createDataFrame([(1, 1.0)], "k long, v double"),
                on="k",
                set_exprs={"g": "5"},
            )


class TestParsingHelpers:
    """No-Spark unit pins for the r13 parsing helpers."""

    def test_split_top_and_edges(self):
        from market_data_lakehouse_spark.sqlfront import _split_top_and

        assert _split_top_and("a = 1 AND b = 2") == ["a = 1", "b = 2"]
        # AND inside a string literal is data, not a separator
        assert _split_top_and("note = 'x AND y' AND k = 1") == [
            "note = 'x AND y'", "k = 1",
        ]
        # AND inside parens stays in its conjunct
        assert _split_top_and("(a = 1 AND b = 2) AND c = 3") == [
            "(a = 1 AND b = 2)", "c = 3",
        ]
        # identifier containing 'and' is not a separator
        assert _split_top_and("brand = 1") == ["brand = 1"]
        assert _split_top_and("k in (1,2) and v > 0") == [
            "k in (1,2)", "v > 0",
        ]  # case-insensitive

    def test_strip_line_comments_edges(self):
        from market_data_lakehouse_spark.sqlfront import LakeSQL

        strip = LakeSQL._strip_line_comments
        assert strip("SELECT 1 -- tail") == "SELECT 1 "
        assert strip("SELECT 'a--b' -- real") == "SELECT 'a--b' "
        assert (
            strip("SELECT 1 -- c1\nFROM t -- c2")
            == "SELECT 1 \nFROM t "
        )
        # '--' split across a quote boundary stays intact
        assert strip("SELECT '-' || '-'") == "SELECT '-' || '-'"

    def test_escaped_quotes_r14(self):
        """r14 ADVICE: a backslash-escaped quote inside a literal
        must not close it — previously SELECT 'it\\'s -- here'
        truncated at the -- and mangled a valid statement."""
        from market_data_lakehouse_spark.sqlfront import (
            LakeSQL,
            _split_commas,
            _split_top_and,
        )

        strip = LakeSQL._strip_line_comments
        stmt = "SELECT 'it\\'s -- here' AND k"
        assert strip(stmt) == stmt
        assert _split_top_and("a = 'x\\' AND y' AND k = 1") == [
            "a = 'x\\' AND y'", "k = 1",
        ]
        assert _split_commas("a = 'x\\', y', b = 2") == [
            "a = 'x\\', y'", "b = 2",
        ]

    def test_mask_literals(self):
        from market_data_lakehouse_spark.sqlfront import _mask_literals

        masked = _mask_literals("note = 'a (select me)' AND k = 1")
        assert "(select" not in masked.lower()
        assert masked.endswith("AND k = 1")
        assert len(masked) == len("note = 'a (select me)' AND k = 1")
        # escape-aware: the literal runs to the real closing quote
        assert "select" not in _mask_literals("x = 'a\\' (select b'")


class TestExistsDML:
    """r14 (VERDICT directive 4): DELETE/UPDATE ... WHERE [NOT]
    EXISTS (SELECT ... FROM src WHERE src.c = tgt.c ...) —
    decorrelated to a key MERGE: EXISTS = matched clause (left-semi
    probe), NOT EXISTS = WHEN NOT MATCHED BY SOURCE (left-anti,
    NULL-sound where NOT IN is not)."""

    def _setup(self, spark, tmp_path, name):
        fr = LakeSQL(spark)
        fr.sql(
            f"CREATE TABLE {name} (k BIGINT, v DOUBLE, cat STRING) "
            f"LOCATION '{tmp_path / name}'"
        )
        fr.sql(
            f"INSERT INTO {name} VALUES (1, 1.0, 'a'), (2, 2.0, 'b'),"
            " (3, 3.0, 'a'), (4, 4.0, 'b'), (NULL, 9.0, 'n')"
        )
        fr.sql(
            f"CREATE TABLE {name}_src (sk BIGINT, flag BIGINT) "
            f"LOCATION '{tmp_path / (name + '_s')}'"
        )
        fr.sql(f"INSERT INTO {name}_src VALUES (2, 1), (3, 0), (99, 1)")
        return fr

    def test_delete_exists_with_source_filter_and_residual(
        self, spark, tmp_path
    ):
        fr = self._setup(spark, tmp_path, "ex1")
        # flag=1 keeps sk {2, 99}; residual cat='b' keeps k=2 only
        fr.sql(
            "DELETE FROM ex1 WHERE EXISTS (SELECT 1 FROM ex1_src s "
            "WHERE s.sk = ex1.k AND s.flag = 1) AND cat = 'b'"
        )
        got = sorted(
            r.k for r in fr.sql("SELECT * FROM ex1").collect()
            if r.k is not None
        )
        assert got == [1, 3, 4]
        assert fr.sql("SELECT COUNT(*) AS n FROM ex1").first()["n"] == 4

    def test_delete_not_exists_null_sound(self, spark, tmp_path):
        """NOT IN would delete nothing when the subquery has a NULL;
        NOT EXISTS with equality correlation deletes every row
        without a match — including the NULL-key row (s.sk = NULL is
        never true, so EXISTS is false)."""
        fr = self._setup(spark, tmp_path, "ex2")
        fr.sql(
            "DELETE FROM ex2 WHERE NOT EXISTS "
            "(SELECT 1 FROM ex2_src s WHERE s.sk = ex2.k)"
        )
        got = sorted(r.k for r in fr.sql("SELECT * FROM ex2").collect())
        assert got == [2, 3]  # 1, 4, NULL deleted

    def test_delete_not_exists_residual_scopes(self, spark, tmp_path):
        fr = self._setup(spark, tmp_path, "ex3")
        fr.sql(
            "DELETE FROM ex3 WHERE NOT EXISTS "
            "(SELECT 1 FROM ex3_src s WHERE s.sk = ex3.k) AND v < 2.0"
        )
        ks = [r.k for r in fr.sql("SELECT * FROM ex3").collect()]
        assert sorted(k for k in ks if k is not None) == [2, 3, 4]
        assert None in ks  # v=9.0 fails the residual, row survives

    def test_update_exists(self, spark, tmp_path):
        fr = self._setup(spark, tmp_path, "ex4")
        fr.sql(
            "UPDATE ex4 SET v = v + 100 WHERE EXISTS "
            "(SELECT 1 FROM ex4_src s WHERE s.sk = ex4.k)"
        )
        got = {
            r.k: r.v for r in fr.sql("SELECT * FROM ex4").collect()
        }
        assert got[2] == 102.0 and got[3] == 103.0
        assert got[1] == 1.0 and got[4] == 4.0 and got[None] == 9.0

    def test_update_not_exists(self, spark, tmp_path):
        fr = self._setup(spark, tmp_path, "ex5")
        fr.sql(
            "UPDATE ex5 SET v = -1.0 WHERE NOT EXISTS "
            "(SELECT 1 FROM ex5_src s WHERE s.sk = ex5.k) "
            "AND cat = 'a'"
        )
        got = {
            r.k: r.v for r in fr.sql("SELECT * FROM ex5").collect()
        }
        assert got[1] == -1.0          # no match, cat a
        assert got[3] == 3.0           # matched -> untouched
        assert got[4] == 4.0           # no match but cat b
        assert got[None] == 9.0        # no match but cat n

    def test_multi_key_correlation(self, spark, tmp_path):
        fr = LakeSQL(spark)
        fr.sql(
            "CREATE TABLE ex6 (k BIGINT, g BIGINT, v DOUBLE) "
            f"LOCATION '{tmp_path / 'ex6'}'"
        )
        fr.sql(
            "INSERT INTO ex6 VALUES (1, 1, 1.0), (1, 2, 2.0), "
            "(2, 1, 3.0)"
        )
        fr.sql(
            "CREATE TABLE ex6_src (a BIGINT, b BIGINT) "
            f"LOCATION '{tmp_path / 'ex6s'}'"
        )
        fr.sql("INSERT INTO ex6_src VALUES (1, 2), (2, 2)")
        fr.sql(
            "DELETE FROM ex6 WHERE EXISTS (SELECT 1 FROM ex6_src s "
            "WHERE s.a = ex6.k AND ex6.g = s.b)"
        )
        got = sorted(
            (r.k, r.g) for r in fr.sql("SELECT * FROM ex6").collect()
        )
        assert got == [(1, 1), (2, 1)]  # only (1,2) matched both keys

    def test_uncorrelated_exists_refused(self, spark, tmp_path):
        fr = self._setup(spark, tmp_path, "ex7")
        with pytest.raises(ValueError, match="uncorrelated"):
            fr.sql(
                "DELETE FROM ex7 WHERE EXISTS "
                "(SELECT 1 FROM ex7_src s WHERE s.flag = 1)"
            )

    def test_non_equality_correlation_refused(self, spark, tmp_path):
        fr = self._setup(spark, tmp_path, "ex8")
        with pytest.raises(ValueError, match="decorrelate"):
            fr.sql(
                "DELETE FROM ex8 WHERE EXISTS "
                "(SELECT 1 FROM ex8_src s WHERE s.sk > ex8.k)"
            )

    def test_residual_literal_with_select_ok(self, spark, tmp_path):
        """r14 ADVICE: a plain conjunct whose string literal contains
        '(select' must not trip the unsupported-subquery guard."""
        fr = self._setup(spark, tmp_path, "ex9")
        fr.sql(
            "UPDATE ex9 SET cat = 'x (select me)' WHERE k = 1"
        )
        fr.sql(
            "DELETE FROM ex9 WHERE k IN (SELECT sk FROM ex9_src) "
            "AND cat = 'x (select me)'"
        )  # no spurious refusal; k=1 not in keys -> deletes nothing
        assert fr.sql("SELECT COUNT(*) AS n FROM ex9").first()["n"] == 5
        fr.sql(
            "DELETE FROM ex9 WHERE EXISTS (SELECT 1 FROM ex9_src s "
            "WHERE s.sk = ex9.k) AND cat = 'x (select me)'"
        )
        assert fr.sql("SELECT COUNT(*) AS n FROM ex9").first()["n"] == 5

    def test_legacy_identity_step1_note(self, spark, tmp_path):
        """r14 ADVICE: a legacy identity doc with step == 1 and no
        recorded start must ALSO carry the unrecorded-start note."""
        fr = LakeSQL(spark)
        fr.sql(
            "CREATE TABLE lid3 (rid BIGINT GENERATED ALWAYS AS "
            "IDENTITY, s STRING) "
            f"LOCATION '{tmp_path / 'lid3'}'"
        )
        lk = fr.table("lid3")
        import json as _json
        import os as _os

        for name in sorted(_os.listdir(lk.log_path)):
            if not name.endswith(".json"):
                continue
            p = _os.path.join(lk.log_path, name)
            doc = _json.load(open(p))
            if doc.get("identity") and "start" in doc["identity"]:
                del doc["identity"]["start"]
                with open(p, "w") as fh:
                    _json.dump(doc, fh)
        stmt = fr.sql("SHOW CREATE TABLE lid3").collect()[0][
            "createtab_stmt"
        ]
        assert "START WITH unrecorded" in stmt
        assert "START WITH 0" not in stmt


class TestScalarSubqueryDML:
    """r14: DELETE/UPDATE ... WHERE <expr> <cmp> (SELECT ...) — the
    uncorrelated scalar subquery evaluates ONCE driver-side (bounded:
    one row, one column) and substitutes as a typed literal, so the
    plain DML path (skipping, pruning) runs, and it composes with the
    IN/EXISTS rewrites. SQL semantics: empty subquery = NULL (touches
    nothing), >1 row is a loud error, correlated refuses."""

    def _setup(self, spark, tmp_path, name):
        fr = LakeSQL(spark)
        fr.sql(
            f"CREATE TABLE {name} (k BIGINT, v DOUBLE, note STRING) "
            f"LOCATION '{tmp_path / name}'"
        )
        fr.sql(
            f"INSERT INTO {name} VALUES (0, 0.0, 'n0'), (1, 1.0, 'n1'),"
            " (2, 2.0, 'n2'), (3, 3.0, 'n3'), (4, 4.0, 'n4')"
        )
        fr.sql(
            f"CREATE TABLE {name}_src (x DOUBLE) "
            f"LOCATION '{tmp_path / (name + '_s')}'"
        )
        fr.sql(f"INSERT INTO {name}_src VALUES (1.0), (3.0)")
        return fr

    def test_delete_above_aggregate(self, spark, tmp_path):
        fr = self._setup(spark, tmp_path, "sc1")
        fr.sql("DELETE FROM sc1 WHERE v > (SELECT avg(x) FROM sc1_src)")
        got = sorted(r.k for r in fr.sql("SELECT * FROM sc1").collect())
        assert got == [0, 1, 2]  # avg = 2.0

    def test_composes_with_in_subquery(self, spark, tmp_path):
        fr = self._setup(spark, tmp_path, "sc2")
        fr.sql(
            "UPDATE sc2 SET v = -1.0 WHERE k IN "
            "(SELECT CAST(x AS BIGINT) FROM sc2_src) "
            "AND v < (SELECT max(x) FROM sc2_src)"
        )
        got = {r.k: r.v for r in fr.sql("SELECT * FROM sc2").collect()}
        assert got == {0: 0.0, 1: -1.0, 2: 2.0, 3: 3.0, 4: 4.0}

    def test_empty_subquery_is_null_touches_nothing(
        self, spark, tmp_path
    ):
        fr = self._setup(spark, tmp_path, "sc3")
        fr.sql(
            "DELETE FROM sc3 WHERE v > "
            "(SELECT max(x) FROM sc3_src WHERE x > 100)"
        )
        assert fr.sql("SELECT COUNT(*) AS n FROM sc3").first()["n"] == 5

    def test_multirow_refused(self, spark, tmp_path):
        fr = self._setup(spark, tmp_path, "sc4")
        with pytest.raises(ValueError, match="more than one row"):
            fr.sql("DELETE FROM sc4 WHERE v > (SELECT x FROM sc4_src)")

    def test_correlated_scalar_now_decorrelates(self, spark, tmp_path):
        """r14 refused this statement; r15 decorrelates it onto the
        merge engine (TestCorrScalarDML owns the full grammar) — the
        v = 1.0 and 3.0 rows equal their own group's avg, nothing is
        strictly greater, so the DELETE touches nothing, and a
        still-unsupported form (non-equality correlation) keeps a
        loud refusal."""
        fr = self._setup(spark, tmp_path, "sc5")
        fr.sql(
            "DELETE FROM sc5 WHERE v > "
            "(SELECT avg(x) FROM sc5_src s WHERE s.x = sc5.v)"
        )
        assert fr.sql("SELECT COUNT(*) AS n FROM sc5").first()["n"] == 5
        with pytest.raises(ValueError, match="equality"):
            fr.sql(
                "DELETE FROM sc5 WHERE v > "
                "(SELECT avg(x) FROM sc5_src s WHERE s.x < sc5.v)"
            )

    def test_scalar_anywhere_in_expression(self, spark, tmp_path):
        """The scalar group can sit anywhere in the conjunct —
        trailing arithmetic and leading position both inline."""
        fr = self._setup(spark, tmp_path, "sc6")
        fr.sql(
            "DELETE FROM sc6 WHERE v <= (SELECT min(x) FROM sc6_src) - 1"
        )  # min=1 -> v <= 0 -> k=0 goes
        got = sorted(r.k for r in fr.sql("SELECT * FROM sc6").collect())
        assert got == [1, 2, 3, 4]
        fr.sql("DELETE FROM sc6 WHERE (SELECT max(x) FROM sc6_src) < v")
        got = sorted(r.k for r in fr.sql("SELECT * FROM sc6").collect())
        assert got == [1, 2, 3]  # max=3 -> v>3 -> k=4 goes

    def test_scalar_in_set_expression(self, spark, tmp_path):
        """SET expressions inline scalars too — previously the raw
        subquery reached the engine's F.expr, which binds to stale
        temp views (same class as the predicate fallthrough)."""
        fr = self._setup(spark, tmp_path, "sc9")
        fr.sql(
            "UPDATE sc9 SET v = (SELECT max(x) FROM sc9_src) + v "
            "WHERE k <= 1"
        )
        got = {r.k: r.v for r in fr.sql("SELECT * FROM sc9").collect()}
        assert got[0] == 3.0 and got[1] == 4.0 and got[2] == 2.0

    def test_in_subquery_inside_parens_refused(self, spark, tmp_path):
        """An IN (SELECT) buried in a parenthesized/OR conjunct is
        not extractable and must refuse loudly, never fall through
        to the DML engine's temp-view resolution."""
        fr = self._setup(spark, tmp_path, "sc10")
        fr.sql("SELECT COUNT(*) AS n FROM sc10_src").collect()  # views hot
        with pytest.raises(ValueError, match="unsupported subquery"):
            fr.sql(
                "DELETE FROM sc10 WHERE (k IN "
                "(SELECT CAST(x AS BIGINT) FROM sc10_src) OR v > 99)"
            )

    def test_string_scalar_renders_safely(self, spark, tmp_path):
        fr = self._setup(spark, tmp_path, "sc7")
        fr.sql(
            "CREATE TABLE sc7_w (w STRING) "
            f"LOCATION '{tmp_path / 'sc7w'}'"
        )
        fr.sql("INSERT INTO sc7_w VALUES ('n1')")
        fr.sql("DELETE FROM sc7 WHERE note = (SELECT w FROM sc7_w)")
        got = sorted(r.k for r in fr.sql("SELECT * FROM sc7").collect())
        assert got == [0, 2, 3, 4]

    def test_literal_with_select_not_tripped(self, spark, tmp_path):
        fr = self._setup(spark, tmp_path, "sc8")
        fr.sql("UPDATE sc8 SET note = '(select me)' WHERE k = 0")
        fr.sql(
            "DELETE FROM sc8 WHERE v >= (SELECT max(x) FROM sc8_src) "
            "AND note = '(select me)'"
        )  # k=0 fails v>=3 -> nothing goes
        assert fr.sql("SELECT COUNT(*) AS n FROM sc8").first()["n"] == 5


class TestReviewFindsR14:
    """Pins for the r14 in-round review finds (VERDICT directive 7
    practice): double-quoted literals masked, paren-aware SET/WHERE
    split, EXISTS-with-nested-IN supported, IN+EXISTS refused
    clearly, zero-row multi-column scalar still refused, non-finite
    float literals render castable."""

    def _setup(self, spark, tmp_path, name):
        fr = LakeSQL(spark)
        fr.sql(
            f"CREATE TABLE {name} (k BIGINT, v DOUBLE, note STRING) "
            f"LOCATION '{tmp_path / name}'"
        )
        fr.sql(
            f"INSERT INTO {name} VALUES (0, 0.0, '(select 1)'), "
            "(1, 1.0, 'x')"
        )
        fr.sql(
            f"CREATE TABLE {name}_src (x DOUBLE) "
            f"LOCATION '{tmp_path / (name + '_s')}'"
        )
        fr.sql(f"INSERT INTO {name}_src VALUES (1.0), (3.0)")
        return fr

    def test_double_quoted_literal_not_rewritten(self, spark, tmp_path):
        """Review find 1 (silent wrong-row DML): the scalar inliner
        rewrote text inside double-quoted literals."""
        fr = self._setup(spark, tmp_path, "rv1")
        fr.sql('DELETE FROM rv1 WHERE note = "(select 1)"')
        got = [r.k for r in fr.sql("SELECT * FROM rv1").collect()]
        assert got == [1]  # k=0 (note literally '(select 1)') deleted

    def test_set_scalar_with_inner_where(self, spark, tmp_path):
        """Review find 2: the UPDATE regex split SET from WHERE at
        the FIRST WHERE keyword, breaking SET subqueries that carry
        their own WHERE clause."""
        fr = self._setup(spark, tmp_path, "rv2")
        fr.sql(
            "UPDATE rv2 SET v = (SELECT max(x) FROM rv2_src "
            "WHERE x < 2.0) WHERE k = 1"
        )
        got = {r.k: r.v for r in fr.sql("SELECT * FROM rv2").collect()}
        assert got == {0: 0.0, 1: 1.0}  # max(x<2)=1.0

    def test_exists_with_nested_in_supported(self, spark, tmp_path):
        """Review find 3a: a nested IN (SELECT) inside the EXISTS
        subquery's WHERE evaluates natively in the key query — the
        old whole-predicate guard refused it."""
        fr = self._setup(spark, tmp_path, "rv3")
        fr.sql(
            "CREATE TABLE rv3_keys (sk BIGINT, x DOUBLE) "
            f"LOCATION '{tmp_path / 'rv3k'}'"
        )
        fr.sql("INSERT INTO rv3_keys VALUES (0, 5.0), (1, 1.0)")
        fr.sql(
            "CREATE TABLE rv3_pick (y DOUBLE) "
            f"LOCATION '{tmp_path / 'rv3p'}'"
        )
        fr.sql("INSERT INTO rv3_pick VALUES (1.0)")
        fr.sql(
            "DELETE FROM rv3 WHERE EXISTS (SELECT 1 FROM rv3_keys s "
            "WHERE s.sk = rv3.k AND s.x IN (SELECT y FROM rv3_pick))"
        )
        got = [r.k for r in fr.sql("SELECT * FROM rv3").collect()]
        assert got == [0]  # only s row (1, 1.0) passes the nested IN

    def test_in_plus_exists_refused_clearly(self, spark, tmp_path):
        fr = self._setup(spark, tmp_path, "rv4")
        with pytest.raises(ValueError, match="combining IN"):
            fr.sql(
                "DELETE FROM rv4 WHERE k IN "
                "(SELECT CAST(x AS BIGINT) FROM rv4_src) AND EXISTS "
                "(SELECT 1 FROM rv4_src s WHERE s.x = rv4.v)"
            )

    def test_zero_row_multicolumn_scalar_refused(self, spark, tmp_path):
        """Review find 4: the column check ran on rows[0], so an
        EMPTY multi-column subquery silently inlined NULL."""
        fr = self._setup(spark, tmp_path, "rv5")
        with pytest.raises(ValueError, match="exactly one column"):
            fr.sql(
                "DELETE FROM rv5 WHERE v > "
                "(SELECT x, x FROM rv5_src WHERE x > 99)"
            )

    def test_nonfinite_scalar_renders_castable(self, spark, tmp_path):
        """Review find 5: str(nan/inf) are bare identifiers SQL
        resolves as columns — they must render as castable text."""
        fr = self._setup(spark, tmp_path, "rv6")
        fr.sql(
            "DELETE FROM rv6 WHERE v > (SELECT double('Infinity'))"
        )  # nothing exceeds +inf
        assert fr.sql("SELECT COUNT(*) AS n FROM rv6").first()["n"] == 2
        fr.sql("DELETE FROM rv6 WHERE v < (SELECT double('Infinity'))")
        assert fr.sql("SELECT COUNT(*) AS n FROM rv6").first()["n"] == 0


class TestScannerProperties:
    """Property pins for the quote/paren scanners (r14, review find 7
    follow-up: four scanners share the escape convention — these
    properties hold them to it without a shared tokenizer refactor).
    No Spark needed."""

    FRAGS = [
        "a", "k = 1", "'x'", "'it\\'s'", '"q"', '"(select 1)"',
        "'a AND b'", "(", ")", " AND ", " WHERE ", "--", "\\'",
        " in ", "(select 1)", "''",
    ]

    def test_mask_is_same_length(self):
        from hypothesis import given, settings
        from hypothesis import strategies as st

        from market_data_lakehouse_spark.sqlfront import _mask_literals

        @settings(max_examples=300, deadline=None)
        @given(
            st.lists(st.sampled_from(self.FRAGS), max_size=12).map(
                "".join
            )
        )
        def prop(t):
            assert len(_mask_literals(t)) == len(t)

        prop()

    def test_mask_hides_both_quote_styles(self):
        from market_data_lakehouse_spark.sqlfront import _mask_literals

        for lit in ("'(select 1)'", '"(select 1)"', "'it\\'s (select'"):
            assert "select" not in _mask_literals(f"note = {lit}")

    def test_split_top_and_rejoin_is_stable(self):
        from hypothesis import given, settings
        from hypothesis import strategies as st

        from market_data_lakehouse_spark.sqlfront import _split_top_and

        @settings(max_examples=300, deadline=None)
        @given(
            st.lists(st.sampled_from(self.FRAGS), max_size=12).map(
                "".join
            )
        )
        def prop(t):
            parts = _split_top_and(t)
            rejoined = _split_top_and(" AND ".join(parts))
            # modulo empty conjuncts (malformed inputs like ' AND ')
            assert [p for p in rejoined if p] == [p for p in parts if p]

        prop()

    def test_split_top_where_examples(self):
        from market_data_lakehouse_spark.sqlfront import _split_top_where

        assert _split_top_where("v = 1 WHERE k = 2") == ("v = 1", "k = 2")
        assert _split_top_where("v = 1") == ("v = 1", None)
        # WHERE inside parens / literals never splits
        assert _split_top_where(
            "v = (SELECT max(x) FROM s WHERE x > 0)"
        ) == ("v = (SELECT max(x) FROM s WHERE x > 0)", None)
        assert _split_top_where("v = 'a WHERE b'") == (
            "v = 'a WHERE b'", None,
        )
        assert _split_top_where("v = 'it\\' WHERE x'") == (
            "v = 'it\\' WHERE x'", None,
        )
        # identifier containing 'where' is not a keyword
        assert _split_top_where("nowhere = 1") == ("nowhere = 1", None)
        # first TOP-LEVEL where wins; later text stays in pred
        assert _split_top_where(
            "v = (SELECT 1 WHERE true) WHERE k = 1 AND note = 'WHERE'"
        ) == ("v = (SELECT 1 WHERE true)", "k = 1 AND note = 'WHERE'")


class TestDmlTableAlias:
    """r14: DELETE FROM t [AS a] / UPDATE t [AS a] — Delta parity.
    The alias is the correlation qualifier for EXISTS/scalar
    subqueries; everywhere else it dequalifies (the engine binds
    target columns bare). Correlated refs INSIDE an IN subquery stay
    qualified so they fail loud, never silently rebind."""

    def _setup(self, spark, tmp_path, name):
        fr = LakeSQL(spark)
        fr.sql(
            f"CREATE TABLE {name} (k BIGINT, v DOUBLE, note STRING) "
            f"LOCATION '{tmp_path / name}'"
        )
        fr.sql(
            f"INSERT INTO {name} VALUES (0, 0.0, 'a'), (1, 1.0, 'b'),"
            " (2, 2.0, 'a'), (3, 3.0, 'b')"
        )
        fr.sql(
            f"CREATE TABLE {name}_src (sk BIGINT) "
            f"LOCATION '{tmp_path / (name + '_s')}'"
        )
        fr.sql(f"INSERT INTO {name}_src VALUES (1), (2)")
        return fr

    def test_delete_with_alias_plain(self, spark, tmp_path):
        fr = self._setup(spark, tmp_path, "al1")
        fr.sql("DELETE FROM al1 AS x WHERE x.k = 1 AND x.note = 'b'")
        got = sorted(r.k for r in fr.sql("SELECT * FROM al1").collect())
        assert got == [0, 2, 3]

    def test_delete_alias_exists_correlation(self, spark, tmp_path):
        fr = self._setup(spark, tmp_path, "al2")
        fr.sql(
            "DELETE FROM al2 AS x WHERE EXISTS "
            "(SELECT 1 FROM al2_src s WHERE s.sk = x.k) "
            "AND x.note = 'a'"
        )
        got = sorted(r.k for r in fr.sql("SELECT * FROM al2").collect())
        assert got == [0, 1, 3]  # only k=2 (matched AND note a)

    def test_update_alias_set_and_scalar(self, spark, tmp_path):
        fr = self._setup(spark, tmp_path, "al3")
        fr.sql(
            "UPDATE al3 x SET x.v = x.v + "
            "(SELECT max(sk) FROM al3_src) WHERE x.k <= 1"
        )
        got = {r.k: r.v for r in fr.sql("SELECT * FROM al3").collect()}
        assert got == {0: 2.0, 1: 3.0, 2: 2.0, 3: 3.0}

    def test_update_alias_not_exists(self, spark, tmp_path):
        fr = self._setup(spark, tmp_path, "al4")
        fr.sql(
            "UPDATE al4 AS x SET v = -1.0 WHERE NOT EXISTS "
            "(SELECT 1 FROM al4_src s WHERE s.sk = x.k)"
        )
        got = {r.k: r.v for r in fr.sql("SELECT * FROM al4").collect()}
        assert got == {0: -1.0, 1: 1.0, 2: 2.0, 3: -1.0}

    def test_unknown_set_qualifier_refused(self, spark, tmp_path):
        fr = self._setup(spark, tmp_path, "al5")
        with pytest.raises(ValueError, match="unknown qualifier"):
            fr.sql("UPDATE al5 AS x SET y.v = 1.0 WHERE x.k = 0")

    def test_correlated_in_subquery_decorrelates(self, spark, tmp_path):
        """r14 pinned this form as a LOUD unresolved failure
        (dequalification must not reach inside the subquery); r16
        implements it (VERDICT r15 directive 5): the correlation
        equality plus the (IN-column, select-item) pair decorrelate
        onto the key-MERGE probe. `k IN (SELECT sk FROM src s WHERE
        s.sk = t.k)` = k is a member of the sk set {1, 2} — deletes
        k=1,2."""
        fr = self._setup(spark, tmp_path, "al6")
        fr.sql(
            "DELETE FROM al6 WHERE k IN "
            "(SELECT sk FROM al6_src s WHERE s.sk = al6.k)"
        )
        got = sorted(r.k for r in fr.sql("SELECT * FROM al6").collect())
        assert got == [0, 3]

    def test_no_alias_unchanged(self, spark, tmp_path):
        fr = self._setup(spark, tmp_path, "al7")
        fr.sql("DELETE FROM al7 WHERE k IN (SELECT sk FROM al7_src)")
        got = sorted(r.k for r in fr.sql("SELECT * FROM al7").collect())
        assert got == [0, 3]

    def test_alias_qualified_in_column(self, spark, tmp_path):
        """x.k IN (SELECT ...) dequalifies to the bare IN form the
        extractor owns — the alias works on every subquery path."""
        fr = self._setup(spark, tmp_path, "al8")
        fr.sql(
            "DELETE FROM al8 AS x WHERE x.k IN "
            "(SELECT sk FROM al8_src) AND x.note = 'b'"
        )
        got = sorted(r.k for r in fr.sql("SELECT * FROM al8").collect())
        assert got == [0, 2, 3]  # k=1 (in keys AND note b) goes


class TestMergeSourceSchemaRule:
    """r15: source-schema conformance is required only for whole-row
    actions (UPDATE SET * / INSERT *) — Delta's rule. Expression-only
    merges read the source via explicit refs, so extra source columns
    (a decorrelated per-key aggregate) are legitimate."""

    def _lake(self, spark, tmp_path):
        t = TransactionalLake(spark, str(tmp_path / "mss"),
                              partition_by=())
        t.append(spark.createDataFrame(
            [(0, 1.0), (1, 2.0)], "k long, v double"))
        return t

    def test_whole_row_update_still_enforces(self, spark, tmp_path):
        t = self._lake(spark, tmp_path)
        src = spark.createDataFrame(
            [(0, 9.0, "x")], "k long, v double, extra string")
        with pytest.raises(ValueError, match="schema mismatch"):
            t.merge(src, on=["k"], when_matched="update",
                    when_not_matched="ignore")

    def test_whole_row_insert_still_enforces(self, spark, tmp_path):
        t = self._lake(spark, tmp_path)
        src = spark.createDataFrame(
            [(7, 9.0, "x")], "k long, v double, extra string")
        with pytest.raises(ValueError, match="schema mismatch"):
            t.merge(src, on=["k"], when_matched=None,
                    when_not_matched="insert")

    def test_set_exprs_allows_extra_source_columns(self, spark,
                                                   tmp_path):
        t = self._lake(spark, tmp_path)
        src = spark.createDataFrame(
            [(0, 5.0)], "k long, agg double")
        t.merge(src, on=["k"], set_exprs={"v": "source.agg + 1"},
                when_not_matched="ignore")
        got = {r.k: r.v for r in t.snapshot().collect()}
        assert got == {0: 6.0, 1: 2.0}

    def test_named_insert_allows_extra_source_columns(self, spark,
                                                      tmp_path):
        t = self._lake(spark, tmp_path)
        src = spark.createDataFrame(
            [(7, 5.0)], "k long, agg double")
        t.merge(src, on=["k"], when_matched=None,
                when_not_matched="insert",
                insert_values={"k": "k", "v": "agg * 2"})
        got = {r.k: r.v for r in t.snapshot().collect()}
        assert got == {0: 1.0, 1: 2.0, 7: 10.0}

    def test_reserved_prefix_still_refused(self, spark, tmp_path):
        t = self._lake(spark, tmp_path)
        src = spark.createDataFrame(
            [(0, 5.0)], "k long, _rt_sneak double")
        with pytest.raises(ValueError, match="_rt_"):
            t.merge(src, on=["k"], set_exprs={"v": "2.0"},
                    when_not_matched="ignore")
