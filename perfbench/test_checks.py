"""The output checks catch wrong outputs.

    python3 perfbench/test_checks.py

Builds correct outputs from the checks' own references over the
benchmark's input tables, shows that `checks.check` accepts them, then perturbs
each output in turn (a value moved past its tolerance, a row dropped, a
row duplicated, a version that is not what it should be) and shows that
the check rejects every perturbed copy. Needs no JVM.
"""
import os
import shutil
import sys
import tempfile
import unittest

import duckdb
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import checks  # noqa: E402
import run  # noqa: E402


def write(out_dir, step, df):
    os.makedirs(f"{out_dir}/{step}", exist_ok=True)
    df = df.drop(columns=[c for c in ("u_off",) if c in df.columns])
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False),
                   f"{out_dir}/{step}/part-0.parquet")


class ChecksCatchWrongOutputs(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.mkdtemp(prefix="perfbench-checks-")
        cls.data = run.DATA
        cls.params = run.lakehouse_params(11, cls.data, cls.tmp)
        con = checks.connect(cls.data)
        e = checks.events(con)
        cls.switchback = {step: ref(con, e) for step, (ref, _, _) in checks.SWITCHBACK.items()}
        cls.lakehouse = {
            "daily_versions": checks.ref_daily_versions(e, cls.params),
            "orders_versions": checks.ref_orders_versions(con, cls.params)}
        cls.facts = {"orders_files_v3": 8, "orders_files_v4": 1}

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.tmp)

    def problems(self, kind, outputs, facts=None):
        out = tempfile.mkdtemp(dir=self.tmp)
        for step, df in outputs.items():
            write(out, step, df)
        return checks.check(kind, self.data, out, self.params, facts or self.facts)

    def perturbations(self, df, tol):
        """(label, perturbed copy) pairs for one output."""
        yield "row dropped", df.iloc[1:]
        yield "row duplicated", df.iloc[[0] + list(range(len(df)))]
        for col in df.columns:
            if col == "u_off" or df[col].dtype.kind not in "if":
                continue
            bad = df.copy()
            bad[col] = bad[col].astype(float)
            step = max(1.0, 10 * tol.get(col, 0.0), abs(float(bad[col].iloc[0])) * 1e-3)
            bad.loc[bad.index[0], col] = bad[col].iloc[0] + step
            yield f"{col} moved", bad

    def test_correct_outputs_pass(self):
        self.assertEqual(self.problems("switchback", self.switchback), [])
        self.assertEqual(self.problems("lakehouse", self.lakehouse), [])

    def test_switchback_perturbations_fail(self):
        for step, (_, _, tol) in checks.SWITCHBACK.items():
            for label, bad in self.perturbations(self.switchback[step], tol):
                with self.subTest(step=step, perturbation=label):
                    self.assertNotEqual(
                        self.problems("switchback", {**self.switchback, step: bad}), [])

    def test_lakehouse_perturbations_fail(self):
        for step in ("daily_versions", "orders_versions"):
            for label, bad in self.perturbations(self.lakehouse[step], {}):
                with self.subTest(step=step, perturbation=label):
                    self.assertNotEqual(
                        self.problems("lakehouse", {**self.lakehouse, step: bad}), [])

    def test_relanding_that_changes_a_day_fails(self):
        d = self.lakehouse["daily_versions"].reset_index(drop=True)
        d = d.drop(d[d.version == d.version.max()].index[:1])
        self.assertNotEqual(self.problems("lakehouse", {**self.lakehouse, "daily_versions": d}), [])

    def test_unapplied_delete_fails(self):
        o = self.lakehouse["orders_versions"]
        v2 = o[o.version == 2]
        bad = pd.concat([o[o.version != 3], v2.assign(version=3)])
        self.assertNotEqual(self.problems("lakehouse", {**self.lakehouse, "orders_versions": bad}), [])

    def test_optimize_without_fewer_files_fails(self):
        self.assertNotEqual(
            self.problems("lakehouse", self.lakehouse, {"orders_files_v3": 8, "orders_files_v4": 8}), [])

    def test_props_without_k_read_as_null(self):
        con = duckdb.connect()
        con.sql("""CREATE VIEW events AS SELECT * FROM (VALUES
            (1, TIMESTAMP '2024-01-12 10:00:00', 3, 'click', 1.5, '{"k": 7}'),
            (2, TIMESTAMP '2024-01-12 11:00:00', 3, 'click', 2.5, '{}'))
            t(event_id, ts, user_id, event_type, value, props)""")
        k = checks.events(con).sort_values("event_id").k.tolist()
        self.assertEqual(k[0], 7.0)
        self.assertTrue(pd.isna(k[1]))


if __name__ == "__main__":
    unittest.main()
