"""Seeded generators: deterministic content, and expected figures that a
second, plain pandas computation agrees with."""

from __future__ import annotations

import os
import sys

import pandas as pd
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402


def test_cohort_digest_is_seeded(tmp_path):
    a = gen.meds_cohort(3, str(tmp_path / "a"), n_patients=60)
    b = gen.meds_cohort(3, str(tmp_path / "b"), n_patients=60)
    c = gen.meds_cohort(4, str(tmp_path / "c"), n_patients=60)
    assert a.digest == b.digest and a.expected == b.expected
    assert a.digest != c.digest
    assert a.rows == pq.read_table(str(tmp_path / "a")).num_rows


def test_extract_digest_is_seeded(tmp_path):
    a = gen.extract_tables(3, str(tmp_path / "a"), n_subjects=50, n_labs=500)
    b = gen.extract_tables(3, str(tmp_path / "b"), n_subjects=50, n_labs=500)
    c = gen.extract_tables(4, str(tmp_path / "c"), n_subjects=50, n_labs=500)
    assert a.digest == b.digest
    assert a.digest != c.digest
    with open(a.paths["labs"], "rb") as fa, open(b.paths["labs"], "rb") as fb:
        assert fa.read() == fb.read()


def test_extract_rows_are_distinct_and_times_parse(tmp_path):
    inp = gen.extract_tables(5, str(tmp_path), n_subjects=40, n_labs=2000)
    labs = pacsv.read_csv(inp.paths["labs"]).to_pandas()
    assert len(labs) == 2000 and labs["valuenum"].isna().mean() > 0.1
    iso = pd.to_datetime(labs["charttime"], format="%Y-%m-%d %H:%M:%S", errors="coerce")
    us = pd.to_datetime(labs["charttime"], format="%m/%d/%Y, %H:%M:%S", errors="coerce")
    assert (iso.notna() ^ us.notna()).all()
    assert not labs.duplicated(["subject_id", "charttime", "itemid"]).any()
    assert inp.expected["cohort_rows"] == 2 * 40 + 2000


def test_expected_preprocess_matches_pandas(tmp_path):
    inp = gen.meds_cohort(11, str(tmp_path), n_patients=120)
    df = pq.read_table(str(tmp_path)).to_pandas()
    per_pid = df.groupby("patient_id").agg(n=("code", "size"),
                                           e=("time", lambda t: t.nunique(dropna=False)))
    keep = per_pid[(per_pid.n >= gen.MIN_MEASUREMENTS_PER_PATIENT)
                   & (per_pid.e >= gen.MIN_EVENTS_PER_PATIENT)].index
    df = df[df.patient_id.isin(keep)]
    n_pat = df.groupby("code").patient_id.nunique()
    vocab = {c: i + 1 for i, c in enumerate(sorted(n_pat.index))}
    df = df[df.code.isin(n_pat[n_pat >= gen.MIN_PATIENTS_PER_CODE].index) & df.time.notna()]
    exp = inp.expected
    assert exp["patients"] == df.patient_id.nunique()
    assert exp["events"] == len(df[["patient_id", "time"]].drop_duplicates())
    assert exp["measurements"] == len(df)
    assert exp["per_code"] == df.code.map(vocab).value_counts().sort_index().to_dict()
