"""Seeded input generators for the MEDS workloads.

Both generators run in the benchmark's own process before Spark starts and
use only NumPy and pyarrow, so the inputs never depend on the code under
test. Each returns an ``Inputs`` record: the rows and bytes written, a
content digest (same seed -> same digest), and the expected figures the
output checks compare against, computed here independently of Spark.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

#: Reference epoch for generated times: 2000-01-01T00:00:00Z, in seconds.
EPOCH_2000_S = 946_684_800
US = 1_000_000

#: The preprocessing pipeline the ``meds_preprocess`` workload runs; the
#: thresholds are chosen so every filter drops something.
MIN_MEASUREMENTS_PER_PATIENT = 20
MIN_EVENTS_PER_PATIENT = 5
MIN_PATIENTS_PER_CODE = 5
STDDEV_CUTOFF = 4.5

N_CODES = 5000
N_FILES = 4
N_LAB_ITEMS = 800


@dataclass
class Inputs:
    rows: int
    bytes: int
    digest: str
    paths: dict[str, str]
    expected: dict = field(default_factory=dict)


def _digest(*arrays: np.ndarray) -> str:
    h = hashlib.sha256()
    for a in arrays:
        a = np.ascontiguousarray(a)
        h.update(str(a.dtype).encode())
        h.update(a.tobytes())
    return h.hexdigest()


def _file_digest(*paths: str) -> str:
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def _apportion(weights: np.ndarray, total: int) -> np.ndarray:
    """Integers >= 1 in proportion to ``weights`` that sum to ``total``
    (largest remainders get the leftover units)."""
    share = weights / weights.sum() * (total - len(weights))
    out = np.floor(share).astype(np.int64)
    rest = np.argsort(out - share, kind="stable")[: total - len(weights) - out.sum()]
    out[rest] += 1
    return out + 1


def _zipf_probs(n: int, s: float) -> np.ndarray:
    p = np.arange(1, n + 1, dtype=np.float64) ** -s
    return p / p.sum()


# ---------------------------------------------------------------------------
# meds_preprocess: a flat MEDS cohort as parquet
# ---------------------------------------------------------------------------


def meds_cohort(seed: int, out_dir: str, n_patients: int) -> Inputs:
    """MEDS cohort (patient_id, time, code, numeric_value), sorted by
    (patient_id, time) with static rows first, split over N_FILES parquet
    files by patient.

    Shape: heavy-tailed (log-normal) events per patient, 80 on average,
    1 + Poisson(3) measurements per event, codes Zipf(1.3) over N_CODES,
    about 40% null values with 0.3% gross outliers, and about 2% static
    rows."""
    n_codes, n_files = N_CODES, N_FILES
    rng = np.random.default_rng([seed, 0x4D45445])
    pids = np.sort(rng.choice(10 * n_patients + 1000, n_patients, replace=False)).astype(np.int64)

    # heavy-tailed lengths, rescaled so every seed has the same event total
    w = np.clip(rng.lognormal(0.0, 1.0, n_patients), 0.02, 80.0)
    n_ev = _apportion(w, 80 * n_patients)
    ev_pid = np.repeat(np.arange(n_patients), n_ev)
    gaps = rng.exponential(2 * 86400.0, len(ev_pid)).astype(np.int64) + 60
    cum = np.cumsum(gaps)
    first = np.concatenate([[0], np.cumsum(n_ev)[:-1]])
    start = EPOCH_2000_S + rng.integers(0, 15 * 365 * 86400, n_patients)
    ev_time = start[ev_pid] + cum - cum[first][ev_pid]

    m_per_ev = 1 + rng.poisson(3.0, len(ev_pid))
    dyn_pid = np.repeat(ev_pid, m_per_ev)
    dyn_time = np.repeat(ev_time, m_per_ev) * US
    n_dyn = len(dyn_pid)
    dyn_code = rng.choice(n_codes, n_dyn, p=_zipf_probs(n_codes, 1.3))

    code_mean = rng.normal(50.0, 30.0, n_codes)
    code_std = rng.uniform(1.0, 10.0, n_codes)
    val = code_mean[dyn_code] + code_std[dyn_code] * rng.standard_normal(n_dyn)
    outlier = rng.random(n_dyn) < 0.003
    val[outlier] *= 25.0
    val_null = rng.random(n_dyn) < 0.4

    # static rows: ~2% of the table, a few per patient, codes STATIC//0..19
    n_static = int(round(0.02 * n_dyn / 0.98))
    st_pid = np.sort(rng.integers(0, n_patients, n_static))
    st_code = n_codes + rng.integers(0, 20, n_static)

    pid_idx = np.concatenate([st_pid, dyn_pid])
    is_static = np.concatenate([np.ones(n_static, bool), np.zeros(n_dyn, bool)])
    time = np.concatenate([np.zeros(n_static, np.int64), dyn_time])
    code = np.concatenate([st_code, dyn_code])
    value = np.concatenate([np.zeros(n_static), val]).astype(np.float32)
    value_null = np.concatenate([np.ones(n_static, bool), val_null])
    # (patient, static first, time); the stable sort keeps generation order
    order = np.lexsort((time, ~is_static, pid_idx))
    pid_idx, is_static, time, code, value, value_null = (
        a[order] for a in (pid_idx, is_static, time, code, value, value_null)
    )

    names = np.array(
        [f"LAB//{i}" for i in range(n_codes)] + [f"STATIC//{i}" for i in range(20)],
        dtype=object,
    )
    patient_id = pids[pid_idx]
    os.makedirs(out_dir, exist_ok=True)
    bounds = np.searchsorted(pid_idx, np.linspace(0, n_patients, n_files + 1).astype(int))
    for i in range(n_files):
        sl = slice(bounds[i], bounds[i + 1])
        table = pa.table({
            "patient_id": pa.array(patient_id[sl]),
            "time": pa.array(time[sl], pa.timestamp("us"), mask=is_static[sl]),
            "code": pa.array(names[code[sl]], pa.string()),
            "numeric_value": pa.array(value[sl], pa.float32(), mask=value_null[sl]),
        })
        pq.write_table(table, os.path.join(out_dir, f"part-{i:05d}.parquet"))

    return Inputs(
        rows=len(patient_id),
        bytes=_dir_bytes(out_dir),
        digest=_digest(patient_id, is_static, time, code, value, value_null),
        paths={"cohort": out_dir},
        expected=_expected_preprocess(patient_id, is_static, time, code, names),
    )


def _expected_preprocess(patient_id, is_static, time, code, names) -> dict:
    """What the tensorized output must hold, by the pipeline's rules:
    filter_patients -> filter_measurements -> (occlusion and normalization
    keep every row) -> one sequence per patient over non-static rows."""
    t = np.where(is_static, -1, time)
    # rows are sorted by (patient, time), so run boundaries give counts
    new_pid = np.r_[True, patient_id[1:] != patient_id[:-1]]
    new_time = new_pid | np.r_[True, t[1:] != t[:-1]]
    pid_group = np.cumsum(new_pid) - 1
    n_meas = np.bincount(pid_group)
    n_events = np.bincount(pid_group, weights=new_time).astype(np.int64)
    keep_patient = (n_meas >= MIN_MEASUREMENTS_PER_PATIENT) & (n_events >= MIN_EVENTS_PER_PATIENT)
    keep = keep_patient[pid_group]

    kept_code, kept_group = code[keep], pid_group[keep]
    pairs = np.unique(kept_code.astype(np.int64) * (len(n_meas) + 1) + kept_group)
    n_patients_per_code = np.bincount(pairs // (len(n_meas) + 1), minlength=len(names))
    allowed = n_patients_per_code >= MIN_PATIENTS_PER_CODE

    # vocabulary: 1-based lexicographic rank over every code that survived
    # filter_patients (fit_vocabulary_indices runs on the aggregated metadata)
    present = np.flatnonzero(n_patients_per_code > 0)
    ranked = present[np.argsort(names[present].astype(str), kind="stable")]
    vocab = np.zeros(len(names), np.int64)
    vocab[ranked] = np.arange(1, len(ranked) + 1)

    dyn = keep & allowed[code] & ~is_static
    kp, kt = patient_id[dyn], t[dyn]
    opens = np.r_[True, (kp[1:] != kp[:-1]) | (kt[1:] != kt[:-1])] if len(kp) else kp
    per_code = np.bincount(vocab[code[dyn]], minlength=len(ranked) + 1)
    return {
        "patients": int(len(np.unique(kp))),
        "events": int(np.count_nonzero(opens)),
        "measurements": int(len(kp)),
        "per_code": {int(i): int(n) for i, n in enumerate(per_code) if n},
    }


# ---------------------------------------------------------------------------
# meds_extract: raw CSV tables and their event config
# ---------------------------------------------------------------------------

#: Event config in the shape of the extraction CLI's events.yaml.
EXTRACT_EVENT_CONFIG = {
    "subjects": {
        "patient_id_col": "subject_id",
        "gender": {"code": ["GENDER", "col(gender)"], "time": None},
        "dob": {"code": "DOB", "time": "col(dob)", "time_format": "%m/%d/%Y"},
    },
    "labs": {
        "patient_id_col": "subject_id",
        "lab": {
            "code": ["LAB", "col(itemid)", "col(valueuom)"],
            "time": "col(charttime)",
            "time_format": ["%Y-%m-%d %H:%M:%S", "%m/%d/%Y, %H:%M:%S"],
            "numeric_value": "col(valuenum)",
        },
    },
}

_UNITS = np.array(["mg/dL", "mmol/L", "g/dL", "U/L", "%", "K/uL", "mEq/L", "ng/mL"], dtype=object)


def _strftime(seconds: np.ndarray, fmt: str) -> pa.Array:
    return pc.strftime(pa.array(seconds.astype("datetime64[s]")), format=fmt)


def extract_tables(seed: int, out_dir: str, n_subjects: int, n_labs: int) -> Inputs:
    """Raw ``subjects.csv`` and ``labs.csv``: string times in two formats,
    compound lab codes ``LAB//itemid//unit`` and about 20% null values.
    Every generated row is distinct, so the extracted cohort has exactly
    ``2 * n_subjects + n_labs`` rows (gender and DOB per subject, one row
    per lab)."""
    rng = np.random.default_rng([seed, 0x455854])
    subject_id = rng.choice(100 * n_subjects, n_subjects, replace=False).astype(np.int64)
    dob_s = EPOCH_2000_S - rng.integers(20 * 365, 90 * 365, n_subjects) * 86400
    dob = _strftime(dob_s, "%m/%d/%Y")
    gender = np.array(["F", "M"], dtype=object)[rng.integers(0, 2, n_subjects)]

    weights = rng.lognormal(0.0, 1.0, n_subjects)
    lab_subject = subject_id[rng.choice(n_subjects, n_labs, p=weights / weights.sum())]
    # distinct chart times: one 10-minute slot per row plus an offset
    slots = rng.permutation(n_labs).astype(np.int64)
    chart_s = EPOCH_2000_S + slots * 600 + rng.integers(0, 600, n_labs)
    chart = pc.if_else(
        pa.array(rng.random(n_labs) < 0.5),
        _strftime(chart_s, "%m/%d/%Y, %H:%M:%S"),
        _strftime(chart_s, "%Y-%m-%d %H:%M:%S"),
    )
    item = 50_000 + rng.choice(N_LAB_ITEMS, n_labs, p=_zipf_probs(N_LAB_ITEMS, 1.1))
    uom = _UNITS[item % len(_UNITS)]
    valuenum = np.round(rng.normal(100.0, 25.0, n_labs), 3)
    value_null = rng.random(n_labs) < 0.2

    os.makedirs(out_dir, exist_ok=True)
    subjects_path = os.path.join(out_dir, "subjects.csv")
    labs_path = os.path.join(out_dir, "labs.csv")
    pacsv.write_csv(
        pa.table({"subject_id": subject_id, "dob": dob, "gender": gender}),
        subjects_path,
    )
    pacsv.write_csv(
        pa.table({
            "subject_id": lab_subject,
            "charttime": chart,
            "itemid": item,
            "valueuom": uom,
            "valuenum": pa.array(valuenum, mask=value_null),
        }),
        labs_path,
    )
    return Inputs(
        rows=n_subjects + n_labs,
        bytes=os.path.getsize(subjects_path) + os.path.getsize(labs_path),
        digest=_file_digest(subjects_path, labs_path),
        paths={"subjects": subjects_path, "labs": labs_path},
        expected={
            "cohort_rows": 2 * n_subjects + n_labs,
            "patients": n_subjects,
        },
    )
