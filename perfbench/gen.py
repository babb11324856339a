"""Seeded input generators for the three benchmark workloads.

Every generator takes the seed as an argument and writes plain parquet
files; the program under test only ever sees those files. Each output
directory is written once per (workload, seed, size) under a temporary
name, renamed into place, and then made read-only.
"""

from __future__ import annotations

import os
import shutil
import stat

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

AS_OF = "2024-06-01"
EPOCH = np.datetime64("2015-01-01")


def _dates(rng: np.random.Generator, n: int, lo_days: int, hi_days: int) -> np.ndarray:
    """ISO date strings, ``lo_days``..``hi_days`` after 2015-01-01."""
    return (EPOCH + rng.integers(lo_days, hi_days, n)).astype(str)


def _pick(rng: np.random.Generator, values: list, n: int, p=None) -> np.ndarray:
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _with_none(rng: np.random.Generator, col: np.ndarray, frac: float) -> np.ndarray:
    """MMD arrives all-string: a missing value is the literal "None"."""
    col = col.astype(object)
    col[rng.random(len(col)) < frac] = "None"
    return col


def _publish(tmp: str, out: str) -> None:
    """Rename a finished directory into place and make it read-only."""
    for root, _dirs, files in os.walk(tmp):
        for f in files:
            os.chmod(os.path.join(root, f), stat.S_IRUSR | stat.S_IRGRP | stat.S_IROTH)
    try:
        os.rename(tmp, out)
    except OSError:  # another run published the same inputs first
        shutil.rmtree(tmp, ignore_errors=True)


# ---------------------------------------------------------------- nightly

ENTRY_POINTS = [
    "CCC (comprehensive care center)", "OPD (outpatient department)",
    "Out Patient Department(OPD)", "VCT center", "VCT",
    "Home based HIV testing program", "In Patient Department(IPD)",
    "INPATIENT CARE OR HOSPITALIZATION", "PMTCT ANC", "PMTCT MAT",
    "PMTCT Program", "PMTCT PNC", "OTHER NON-CODED", "mobile VCT program",
    "Tuberculosis treatment program", "OB/GYN department", None,
    "Walk-in kiosk", "Community outreach",
]
REGIMEN_LINES = ["First line", "Second line", "Third line", "Some odd line"]
EXIT_REASONS = ["None", "Died", "Transfer Out", "LTFU"]
VACCINES = ["AstraZeneca", "Pfizer", "Moderna", "Sinopharm", "Johnson", None]
VAX_STATUS = ["Fully Vaccinated", "Partially Vaccinated", "Not Vaccinated"]


def nightly_tables(seed: int, patients: int) -> dict[str, pa.Table]:
    """FIXTURES.md-shaped staging + dimension tables for ``patients``
    patients at ``patients // 100`` facilities."""
    rng = np.random.default_rng(seed)
    n_fac = max(patients // 100, 4)
    sites = 10_000 + np.arange(n_fac)
    # sites missing from the dimensions: ~3% from mfl_codes, ~8% from hub
    in_mfl = rng.random(n_fac) >= 0.03
    in_hub = in_mfl & (rng.random(n_fac) >= 0.05)
    mfl_sites = sites[in_mfl]
    m = len(mfl_sites)
    counties = [f"County {i}" for i in range(47)]
    mfl = pa.table({
        "SiteCode": pa.array(mfl_sites, pa.int64()),
        "officialname": [f"Facility {s}" for s in mfl_sites],
        "county_name": _pick(rng, counties, m),
        "constituency_name": [f"Constituency {s % 290}" for s in mfl_sites],
        "sub_county_name": [f"Sub {s % 300}" for s in mfl_sites],
        "ward_name": [f"Ward {s % 1450}" for s in mfl_sites],
        "lat": rng.uniform(-4.7, 4.6, m),
        "long": rng.uniform(33.9, 41.9, m),
    })
    hub_sites = sites[in_hub]
    hub = pa.table({
        "MFL_Code": pa.array(hub_sites, pa.int64()),
        "Hub": [f"Hub {s % 40}" for s in hub_sites],
    })

    # ---- patients: one home site and a clinic number each
    pid = np.arange(patients)
    home = sites[rng.integers(0, n_fac, patients)]
    ccc = np.char.add("CCC", pid.astype(str))

    # ---- MMD: all-string arrival, "None" sentinels, entity + exact dupes
    n_ent = patients // 20
    ent = rng.choice(patients, n_ent, replace=False)
    mrow = np.concatenate([pid, ent])
    n = len(mrow)
    start_art = _dates(rng, n, 0, 3000)
    mmd = {
        "DOB": _dates(rng, n, -20000, -2000),
        "Gender": _pick(rng, ["Male", "Female"], n),
        "weight": np.round(rng.uniform(35, 110, n), 1).astype(str),
        "height": np.round(rng.uniform(140, 195, n), 1).astype(str),
        "CCC": ccc[mrow],
        "PatientPK": (mrow + 1).astype(str),
        "NationalID": np.char.add("ID", (mrow * 7 + 3).astype(str)),
        "AgeEnrollment": np.round(rng.uniform(1, 70, n), 1).astype(str),
        "AgeARTStart": np.round(rng.uniform(1, 70, n), 1).astype(str),
        "AgeLastVisit": np.round(rng.uniform(1, 75, n), 1).astype(str),
        "SiteCode": home[mrow].astype(str),
        "FacilityName": np.char.add("Facility ", home[mrow].astype(str)),
        "RegistrationDate": _dates(rng, n, 0, 3000),
        "PatientSource": _pick(rng, ["Transfer In", "OPD", "VCT", "PMTCT"], n),
        "PreviousARTStartDate": _with_none(rng, _dates(rng, n, 0, 2000), 0.7),
        "StartARTAtThisFAcility": start_art,
        "StartARTDate": start_art,
        "PreviousARTUse": _pick(rng, ["No", "Yes"], n),
        "PreviousARTPurpose": _with_none(rng, _pick(rng, ["PMTCT", "PEP", "HAART"], n), 0.8),
        "PreviousARTRegimen": _with_none(rng, _pick(rng, ["AZT/3TC/NVP", "TDF/3TC/EFV"], n), 0.8),
        "DateLastUsed": _with_none(rng, _dates(rng, n, 0, 2000), 0.8),
        "StartRegimen": _pick(rng, ["TDF/3TC/DTG", "TDF/3TC/EFV", "AZT/3TC/NVP"], n),
        "StartRegimenLine": _pick(rng, REGIMEN_LINES, n, p=[0.7, 0.2, 0.05, 0.05]),
        "LastARTDate": _dates(rng, n, 2500, 3440),
        "LastRegimen": _pick(rng, ["TDF/3TC/DTG", "ABC/3TC/DTG", "AZT/3TC/LPV/r"], n),
        "LastRegimenLine": _pick(rng, REGIMEN_LINES, n, p=[0.6, 0.3, 0.05, 0.05]),
        "ExpectedReturn": _dates(rng, n, 3200, 3480),
        "LastVisit": _dates(rng, n, 3000, 3440),
        "Duration": rng.choice([30.0, 60.0, 90.0, 180.0], n).astype(str),
        "ExitDate": _with_none(rng, _dates(rng, n, 2000, 3440), 0.9),
        "ExitReason": _pick(rng, EXIT_REASONS, n, p=[0.88, 0.04, 0.05, 0.03]),
        "Date_Created": np.char.add(_dates(rng, n, 0, 3000).astype(str), " 10:00:00"),
        "Date_Last_Modified": np.char.add(_dates(rng, n, 3000, 3440).astype(str), " 11:00:00"),
    }
    mmd_t = pa.table({k: pa.array(np.asarray(v, dtype=object), pa.string()) for k, v in mmd.items()})
    mmd_t = pa.concat_tables([mmd_t, mmd_t.take(rng.choice(n, n // 50, replace=False))])

    # ---- VLS: ~2.2 results per patient, ties on the max date, LDL,
    # non-VL tests, null keys; ccc near-unique (0.1% cross-site reuse)
    per = rng.poisson(1.2, patients) + 1
    vrow = np.repeat(pid, per)
    n = len(vrow)
    vccc = ccc[vrow].astype(object)
    collide = rng.random(n) < 0.001
    vccc[collide] = ccc[rng.integers(0, patients, collide.sum())]
    received = _dates(rng, n, 2000, 3440)
    tie = np.flatnonzero(rng.random(n) < 0.03)
    tie = tie[(tie > 0) & (vrow[np.maximum(tie - 1, 0)] == vrow[tie])]
    received[tie] = received[tie - 1]
    mfl_col = home[vrow].astype(object)
    mfl_col[rng.random(n) < 0.005] = None
    vccc[rng.random(n) < 0.005] = None
    results = rng.integers(20, 400_000, n).astype(str).astype(object)
    results[rng.random(n) < 0.35] = "LDL"
    results[rng.random(n) < 0.01] = None
    vls = pa.table({
        "Mfl_code": pa.array(mfl_col, pa.int64()),
        "ccc_number": pa.array(vccc, pa.string()),
        "Gender": _pick(rng, ["Male", "Female"], n),
        "DOB": _dates(rng, n, -20000, -2000),
        "ageInYears": rng.integers(1, 80, n),
        "date_test_requested": _dates(rng, n, 2000, 3440),
        "date_test_result_received": received,
        "lab_test": _pick(rng, ["VIRAL LOAD", "CD4", "HB"], n, p=[0.9, 0.07, 0.03]),
        "urgency": _pick(rng, ["Routine", "Urgent"], n),
        "order_reason": _pick(rng, ["Annual", "Baseline", "Suspected failure"], n),
        "test_result": pa.array(results, pa.string()),
    })
    vls = pa.concat_tables([vls, vls.take(rng.choice(n, n // 50, replace=False))])

    # ---- COVID: ~0.9 rows per patient
    crow = rng.choice(patients, int(patients * 0.88), replace=False)
    n = len(crow)
    covid = pa.table({
        "MFL_code": home[crow].astype(str),
        "Facilty_Name": np.char.add("Facility ", home[crow].astype(str)),
        "ccc_number": ccc[crow],
        "phone_number": np.char.add("07", rng.integers(10_000_000, 99_999_999, n).astype(str)),
        "id_number": np.char.add("ID", (crow * 7 + 3).astype(str)),
        "DOB": _dates(rng, n, -20000, -2000),
        "ageInYears": rng.integers(1, 80, n),
        "Gender": _pick(rng, ["Male", "Female"], n),
        "visit_date": _dates(rng, n, 2200, 3440),
        "Ever_Vaccinated": _pick(rng, ["Yes", "No"], n),
        "First_Vaccine": pa.array(_pick(rng, VACCINES, n), pa.string()),
        "First_Vaccination_Verified": _pick(rng, ["Yes", "No"], n),
        "first_dose_date": _dates(rng, n, 2200, 2600),
        "Second_Vaccine": pa.array(_pick(rng, VACCINES, n), pa.string()),
        "Second_Vaccination_Verified": _pick(rng, ["Yes", "No"], n),
        "second_dose_date": _dates(rng, n, 2600, 3000),
        "Final_Vaccination_Status": _pick(rng, VAX_STATUS, n),
        "Ever_recieved_Booster": _pick(rng, ["Yes", "No"], n),
        "Booster_Vaccine": pa.array(_pick(rng, VACCINES, n), pa.string()),
    })
    covid = pa.concat_tables([covid, covid.take(rng.choice(n, n // 50, replace=False))])

    # ---- HTS: one test per client, linkage days spread over the buckets
    n = patients
    tested = rng.integers(2500, 3400, n)
    link = rng.choice([0, 5, 40, -3], n, p=[0.4, 0.3, 0.2, 0.1]) + rng.integers(0, 3, n)
    art = (EPOCH + tested + link).astype(str).astype(object)
    art[rng.random(n) < 0.3] = None
    hts = pa.table({
        "SiteCode": home[rng.permutation(n)].astype(str),
        "CccNumber": np.char.add("C", pid.astype(str)),
        "PatientId": np.char.add("P", pid.astype(str)),
        "DOB": _dates(rng, n, -20000, -2000),
        "Gender": _pick(rng, ["Male", "Female"], n),
        "ageInYears": rng.integers(1, 80, n),
        "EntryPoint": pa.array(_pick(rng, ENTRY_POINTS, n), pa.string()),
        "Consent": _pick(rng, ["Yes", "No"], n),
        "ClientTestedAs": _pick(rng, ["Self", "Couple"], n),
        "TestStrategy": _pick(rng, ["HP", "NP", "VI"], n),
        "TestResult1": _pick(rng, ["Positive", "Negative"], n),
        "TestResult2": _pick(rng, ["Positive", "Negative", "None"], n),
        "FinalTestResult": _pick(rng, ["Positive", "Negative", "Inconclusive"], n, p=[0.3, 0.65, 0.05]),
        "TestDate": (EPOCH + tested).astype(str),
        "PatientGivenResult": _pick(rng, ["Yes", "No"], n),
        "FacilityLinked": _pick(rng, ["Facility X", "Facility Y"], n),
        "art_start_date": pa.array(art, pa.string()),
        "EverTestedForHiv": _pick(rng, ["Yes", "No"], n),
        "MonthsSinceLastTest": rng.integers(0, 48, n).astype(str),
        "TbScreening": _pick(rng, ["Negative", "Presumed TB"], n),
        "ClientSelfTested": _pick(rng, ["Yes", "No"], n),
        "CoupleDiscordant": _pick(rng, ["Yes", "No"], n),
        "TestType": _pick(rng, ["Initial", "Repeat"], n),
    })
    hts = pa.concat_tables([hts, hts.take(rng.choice(n, n // 50, replace=False))])
    return {
        "mfl_codes": mfl, "hub_details": hub, "mmd_staging": mmd_t,
        "vls_staging": vls, "covid_staging": covid, "hts_staging": hts,
    }


STAGING = ("mmd_staging", "vls_staging", "covid_staging", "hts_staging")


def nightly_inputs(base: str, seed: int, patients: int) -> tuple[str, int]:
    """Write (once) and return the nightly input directory and the
    number of staged rows the four chains read."""
    out = os.path.join(base, f"idr_nightly-s{seed}-p{patients}")
    if not os.path.isdir(out):
        tmp = f"{out}.tmp{os.getpid()}"
        os.makedirs(tmp)
        for name, t in nightly_tables(seed, patients).items():
            os.makedirs(os.path.join(tmp, f"{name}.parquet"))
            _write(t, os.path.join(tmp, f"{name}.parquet", "part-0.parquet"))
        _publish(tmp, out)
    rows = sum(
        pq.ParquetFile(os.path.join(out, f"{t}.parquet", "part-0.parquet")).metadata.num_rows
        for t in STAGING
    )
    return out, rows


# ----------------------------------------------------------------- corpus

WORDS = (
    "the a of and to in is that for on with as by data batch part spark line "
    "column order small sort fast value scan hash slow group agg filter query "
    "big key window row table stream merge vector join customer clinic patient "
    "result test site record model token corpus train split near copy"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]


def _doc_text(rng: np.random.Generator, n_words: int) -> str:
    return " ".join(_pick(rng, WORDS, n_words))


def corpus_documents(seed: int, docs: int) -> pa.Table:
    """``documents`` with 10% near-duplicates, 3% exact copies and 3%
    carrying a passage of the benchmark slice (doc_id % 97 == 0)."""
    rng = np.random.default_rng(seed)
    # copies are taken from original documents only, so near-duplicate
    # clusters are stars rather than long chains
    texts: list[str] = []
    originals: list[int] = []
    for i in range(docs):
        r = rng.random()
        if i < 50 or r >= 0.16:
            originals.append(i)
            texts.append(_doc_text(rng, int(rng.integers(12, 100))))
        elif r < 0.10:  # near-duplicate: a few word substitutions
            words = texts[originals[int(rng.integers(0, len(originals)))]].split()
            for j in rng.choice(len(words), max(1, len(words) // 25), replace=False):
                words[j] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(words))
        elif r < 0.13:  # exact copy
            texts.append(texts[originals[int(rng.integers(0, len(originals)))]])
        else:  # benchmark contamination: splice in a benchmark passage
            src = texts[97 * int(rng.integers(0, (i - 1) // 97 + 1))].split()
            texts.append(" ".join(src[: len(src) // 2]) + " " + _doc_text(rng, 20))
    return pa.table({
        "doc_id": pa.array(np.arange(docs), pa.int64()),
        "text": texts,
        "lang": _pick(rng, LANGS, docs, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": np.char.add("src", (np.arange(docs) % 20).astype(str)),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def corpus_inputs(base: str, seed: int, docs: int) -> str:
    out = os.path.join(base, f"corpus_curation-s{seed}-d{docs}")
    if not os.path.isdir(out):
        tmp = f"{out}.tmp{os.getpid()}"
        os.makedirs(tmp)
        _write(corpus_documents(seed, docs), os.path.join(tmp, "documents.parquet"))
        _publish(tmp, out)
    return out


# ----------------------------------------------------------------- events

DIM_SCHEMA = pa.schema([
    ("ccc_number", pa.string()),
    ("Mfl_code", pa.int64()),
    ("date_test_result_received", pa.string()),
    ("test_result", pa.string()),
    ("event_seq", pa.int64()),
])


def events_seed_table(seed: int, keys: int) -> pa.Table:
    """The latest-result dimension's initial contents: one row per key."""
    rng = np.random.default_rng(seed)
    return pa.table({
        "ccc_number": np.char.add("CCC", np.arange(keys).astype(str)),
        "Mfl_code": pa.array(10_000 + rng.integers(0, max(keys // 100, 1), keys), pa.int64()),
        "date_test_result_received": _dates(rng, keys, 2000, 3000),
        "test_result": rng.integers(20, 400_000, keys).astype(str),
        "event_seq": pa.array(np.zeros(keys, np.int64)),
    }, schema=DIM_SCHEMA)


def event_delta(seed: int, keys: int, seq: int, rows: int) -> pa.Table:
    """One facility's VLS delta for event ``seq``: ~90% of rows update
    existing keys (with a later result date), the rest add new keys."""
    rng = np.random.default_rng([seed, seq])
    upd = rng.random(rows) < 0.9
    key = np.where(
        upd, rng.integers(0, keys, rows), keys + seq * rows + np.arange(rows)
    )
    key = np.unique(key)
    n = len(key)
    results = rng.integers(20, 400_000, n).astype(str).astype(object)
    results[rng.random(n) < 0.35] = "LDL"
    return pa.table({
        "ccc_number": np.char.add("CCC", key.astype(str)),
        "Mfl_code": pa.array(np.full(n, 10_000 + seq % max(keys // 100, 1)), pa.int64()),
        "date_test_result_received": _dates(rng, n, 3000 + seq, 3001 + seq),
        "test_result": pa.array(results, pa.string()),
        "event_seq": pa.array(np.full(n, seq, np.int64)),
    }, schema=DIM_SCHEMA)


def events_inputs(base: str, seed: int, keys: int, rows: int, count: int) -> str:
    """The seed file plus ``count`` event deltas, written once; the
    benchmark copies each delta into the inbox when its event fires."""
    out = os.path.join(base, f"facility_events-s{seed}-k{keys}-r{rows}-n{count}")
    if not os.path.isdir(out):
        tmp = f"{out}.tmp{os.getpid()}"
        os.makedirs(tmp)
        _write(events_seed_table(seed, keys), os.path.join(tmp, "seed.parquet"))
        for seq in range(1, count + 1):
            _write(event_delta(seed, keys, seq, rows), os.path.join(tmp, f"delta-{seq:05d}.parquet"))
        _publish(tmp, out)
    return out
