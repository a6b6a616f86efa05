"""Pipeline golden tests (SURVEY §5 item 3): miniature synthetic EHR fixtures
(FIXTURES.md schemas) pushed through the recomposed reference lifecycles
(§3.1-3.3 + demographics), asserting the semantic corner cases inherited
from R: BP split, junk->NULL casts, downup-fill boundaries, lead() episode
ends, keep-last dedup, fuzzy vocab matching, castability filters.
"""

from __future__ import annotations

import pytest

from clif_spark.pipelines import (adt, demographics, dialysis, labs,
                                  medications, scores, vitals)

# 2020-04-01 00:00:00 UTC
T0 = 1585699200
H = 3600


def rows_by(df, *key_cols):
    out = {}
    for r in df.collect():
        d = r.asDict()
        out[tuple(d[k] for k in key_cols)] = d
    return out


# --- vitals (§3.1) ----------------------------------------------------------

FLOW_COLS = ["C19_PATIENT_ID", "C19_HAR_ID", "recorded_time",
             "flo_meas_name", "meas_value", "meas_site_name"]


@pytest.fixture(scope="module")
def flow(spark):
    data = [
        ("6914", "100234", T0, "BLOOD PRESSURE", "120/80", "arm"),
        ("6914", "100234", T0, "PULSE", "72", "arm"),
        ("6914", "100234", T0 + H, "PULSE", "junk", "arm"),
        ("6914", "100234", T0, "UNMAPPED THING", "1", None),
        # BP without "/" -> dbp NULL (R separate() NA fill, SURVEY §7.4.3)
        ("7001", "100500", T0, "BLOOD PRESSURE", "95", "leg"),
        # resp-support rows: sparse device column so downup fill matters
        ("6914", "100234", T0, "RT RS OXYGEN DEVICE", "High Flow Nasal Cannula", None),
        ("6914", "100234", T0, "RT RS LPM", "40", None),
        ("6914", "100234", T0 + H, "RT RS FIO2", "60", None),
        ("6914", "100234", T0 + 2 * H, "RT RS VENT FIO2", "80", None),
        ("6914", "100234", T0 + 2 * H, "RT RS MODE", "SIMV", None),
        ("6914", "100234", T0 + 2 * H, "RT RS LPM", "-5", None),
        ("7001", "100500", T0, "RT RS OXYGEN DEVICE", "Room Air", None),
        ("7001", "100500", T0, "RT RS LPM", "seven", None),
    ]
    return spark.createDataFrame(data, FLOW_COLS)


@pytest.fixture(scope="module")
def vitals_vocab(spark):
    return spark.createDataFrame(
        [("BLOOD PRESSURE", "blood_pressure"), ("PULSE", "heart_rate")],
        ["flo_meas_name", "vital_name"])


def test_vitals_bp_split_and_cast(flow, vitals_vocab):
    out = vitals.build_vitals(flow, vitals_vocab)
    got = rows_by(out, "encounter_id", "recorded_time", "vital_name")
    t0 = next(k[1] for k in got if k[2] == "sbp" and k[0] == "100234")
    assert got[("100234", t0, "sbp")]["vital_value"] == 120.0
    assert got[("100234", t0, "dbp")]["vital_value"] == 80.0
    assert got[("100234", t0, "heart_rate")]["vital_value"] == 72.0
    # junk -> NULL (as.numeric fidelity)
    junk = [v for k, v in got.items() if k[2] == "heart_rate" and k[1] != t0]
    assert junk[0]["vital_value"] is None
    # unmapped flowsheet names dropped by the not-null filter
    assert not any("UNMAPPED" in str(k) for k in got)
    # "95" with no "/" -> sbp=95, dbp NULL
    t95 = next(k[1] for k in got if k[0] == "100500" and k[2] == "sbp")
    assert got[("100500", t95, "sbp")]["vital_value"] == 95.0
    assert got[("100500", t95, "dbp")]["vital_value"] is None


def test_respiratory_support_fill_and_clean(flow, spark):
    mode_vocab = spark.createDataFrame(
        [("SIMV", "simv"), ("PRVC", "prvc")], ["mode_name", "mode_category"])
    out = vitals.build_respiratory_support(flow, mode_vocab)
    rows = [r.asDict() for r in out.filter("encounter_id = '100234'")
            .orderBy("recorded_time").collect()]
    assert len(rows) == 3
    # downup fill: device recorded only at t0 propagates forward; mode
    # recorded only at t2 back-fills earlier rows
    assert all(r["device_name"] == "High Flow Nasal Cannula" for r in rows)
    assert all(r["mode_name"] == "SIMV" for r in rows)
    assert all(r["device_category"] == "High Flow NC" for r in rows)
    assert all(r["high_flow"] for r in rows)
    # fio2 fallback chain + /100: t1 uses fio2_a=60, t2 falls back to vent 80
    assert rows[1]["fio2"] == 0.6 and rows[2]["fio2"] == 0.8
    # lpm: 40 kept, -5 -> NULL
    assert rows[0]["lpm"] == 40.0 and rows[2]["lpm"] is None
    # vocab-only mode rows survive the full join (PRVC appears, facts NULL)
    full = {r["mode_name"] for r in out.collect()}
    assert "PRVC" in full
    # junk lpm on the other encounter -> NULL
    other = out.filter("encounter_id = '100500'").collect()[0].asDict()
    assert other["lpm"] is None and other["device_category"] == "Room Air"


# --- labs -------------------------------------------------------------------

def test_labs_dedup_and_vocab(spark):
    raw = spark.createDataFrame(
        [("p1", "e1", T0, T0 + H, "CHLORIDE", "101", "mmol/L", "standard"),
         ("p1", "e1", T0, T0 + H, "CHLORIDE", "101", "mmol/L", "standard"),
         ("p1", "e1", T0, T0 + H, "PH SPECIMEN", "<0.5", None, "poc"),
         ("p1", "e1", T0, T0 + H, "NOT IN VOCAB", "9", None, "standard")],
        ["C19_PATIENT_ID", "C19_HAR_ID", "order_time", "result_time",
         "component_name", "ord_value", "reference_unit", "lab_type_name"])
    vocab = spark.createDataFrame(
        [("CHLORIDE", "chloride", "electrolytes", "standard"),
         ("PH SPECIMEN", "ph", "blood_gas", "poc")],
        ["component_name", "lab_name", "lab_group", "lab_type_name_v"]
    ).withColumnRenamed("lab_type_name_v", "lab_type_name_vocab")
    out = labs.build_labs(raw, vocab.select("component_name", "lab_name",
                                            "lab_group"))
    rows = [r.asDict() for r in out.collect()]
    assert len(rows) == 2  # exact dup removed, unmapped dropped
    num = labs.numeric_lab_values(out)
    vals = {r["lab_name"]: r["lab_value_numeric"] for r in num.collect()}
    assert vals["chloride"] == 101.0 and vals["ph"] is None


# --- scores -----------------------------------------------------------------

def test_scores_and_sofa_band(spark):
    raw = spark.createDataFrame(
        [("p1", "e1", T0, "NUR RA GLASGOW ADULT SCORING", "14", "bed"),
         ("p1", "e1", T0 + H, "NUR RA GLASGOW ADULT SCORING", "err", "bed"),
         ("p1", "e1", T0, "NUR RA RASS SCORE", "-2", "bed"),
         ("p1", "e1", T0, "BLOOD PRESSURE", "120/80", "bed")],
        FLOW_COLS)
    out = scores.build_scores(raw)
    assert out.count() == 3  # BP row excluded by in-list filter
    banded = {(r["score_value"]): r["sofa_neuro"]
              for r in scores.sofa_neuro_band(out).collect()}
    assert banded["14"] == 1.0 and banded["err"] is None


# --- ADT --------------------------------------------------------------------

def test_adt_castable_filter_and_classify(spark):
    raw = spark.createDataFrame(
        [("123", "e1", "2020-04-01 10:00:00", T0 + 5 * H, "MICU D2", "T1"),
         ("123", "e1", "2020-04-01 15:00:00", T0 + 9 * H, "5 EAST MED", "512"),
         ("HEADER_JUNK", "e9", "xx", T0, "ED", "1")],
        ["C19_PATIENT_ID", "C19_HAR_ID", "in_time", "out_time",
         "adt_department_name", "adt_room_nm_wid"])
    out = adt.build_adt(raw)
    rows = [r.asDict() for r in out.collect()]
    assert len(rows) == 2  # non-castable patient id dropped (P11)
    assert rows[0]["dept_name"] == "ICU" and rows[1]["dept_name"] == "Ward"
    assert rows[1]["room_name"] == "standard"
    assert rows[0]["start_time"] is not None and rows[0]["end_time"] is not None


# --- dialysis (§3.3) --------------------------------------------------------

def test_dialysis_episodes(spark):
    cols = ["C19_PATIENT_ID", "C19_HAR_ID", "recorded_time",
            "flo_meas_name", "flo_group_name", "meas_value"]
    d = "R IP DIALYSIS X"
    data = [
        # CRRT on e1: hourly cadence, flow + removal at each stop
        ("p1", "e1", T0 + H, d, "Fluid Delivered (L/Hr)", "0.2"),
        ("p1", "e1", T0 + H, d, "Actual Fluid Removed (mL)", "100"),
        ("p1", "e1", T0 + 2 * H, d, "Fluid Delivered (L/Hr)", "0.3"),
        ("p1", "e1", T0 + 2 * H, d, "Actual Fluid Removed (mL)", "150"),
        # duplicate raw row -> distinct collapses it
        ("p1", "e1", T0 + 2 * H, d, "Actual Fluid Removed (mL)", "150"),
        # iHD on e2: machine number marks start; UF at session end
        ("p2", "e2", T0, d, "Machine Number", "5"),
        ("p2", "e2", T0 + 4 * H, d, "aUltra Filtration Net Loss", "1500"),
        # PD on e3: fill -> drain; zero-volume row filtered
        ("p3", "e3", T0, d, "Fill Volume", "2000"),
        ("p3", "e3", T0 + 6 * H, d, "Total Ultrafiltration", "500"),
        ("p3", "e3", T0 + 7 * H, d, "Fill Volume", "0"),
        # non-dialysis flowsheet rows excluded by the %like% prefilter
        ("p1", "e1", T0, "PULSE", "Fluid Delivered (L/Hr)", "77"),
    ]
    out = dialysis.build_dialysis(spark.createDataFrame(data, cols))
    by_type = {}
    for r in out.collect():
        by_type.setdefault(r["dialysis_type"], []).append(r.asDict())
    crrt = sorted(by_type["crrt"], key=lambda r: r["stop_time"])
    assert len(crrt) == 2
    assert all((r["stop_time"] - r["start_time"]).total_seconds() == 3600
               for r in crrt)
    assert crrt[0]["dialysate_flow_amount"] == 0.2
    assert crrt[0]["ultrafiltration_amount"] == 100.0
    ihd = by_type["ihd"]
    assert len(ihd) == 1
    assert (ihd[0]["stop_time"] - ihd[0]["start_time"]).total_seconds() == 4 * 3600
    assert ihd[0]["ultrafiltration_amount"] == 1500.0
    assert ihd[0]["dialysate_flow_amount"] is None  # union missing col
    pd_eps = by_type["pd"]
    assert len(pd_eps) == 1
    assert pd_eps[0]["ultrafiltration_amount"] == 500.0
    tally = {(r["year"], r["dialysis_type"]): r["n"]
             for r in dialysis.sanity_tally(out).collect()}
    assert tally[(2020, "crrt")] == 1


# --- medications (§3.2) -----------------------------------------------------

MED_ADMIN_COLS = ["C19_PATIENT_ID", "C19_HAR_ID", "medication_id",
                  "order_start_time", "medication_name", "order_med_freq",
                  "take_med_dttm", "take_med_dose", "dose_units"]
MED_OUT_COLS = ["C19_PATIENT_ID", "C19_HAR_ID", "MED_ID", "ORDER_START_TIME",
                "MEDICATION", "MED_ROUTE"]


@pytest.fixture(scope="module")
def med_fixtures(spark):
    admins = spark.createDataFrame(
        [("p1", "e1", "m1", T0, "NOREPINEPHRINE 8 MG/250 ML", "CONTINUOUS",
          T0 + H, "5 mcg/kg/min", ""),
         ("p1", "e1", "m2", T0, "FENTANYL CITRATE 100 MCG", "Q6H",
          T0 + 2 * H, "100mcg", None),
         ("p1", "e1", "m3", T0, "ASPIRIN 81 MG TABLET", "Q6H",
          T0 + 3 * H, "81 mg", "mg")],
        MED_ADMIN_COLS)
    med_out = spark.createDataFrame(
        [("p1", "e1", "m1", T0, "NOREPINEPHRINE 8 MG/250 ML", "IV"),
         ("p1", "e1", "m2", T0, "FENTANYL CITRATE 100 MCG", "IV"),
         ("p1", "e1", "m3", T0, "ASPIRIN 81 MG TABLET", "PO")],
        MED_OUT_COLS)
    vocab = spark.createDataFrame(
        [("norepinephrine", "vasoactive"), ("fentanyl", "sedation")],
        ["med_name", "med_category"])
    return admins, med_out, vocab


def test_medication_orders_join(spark, med_fixtures):
    admins, med_out, _ = med_fixtures
    orders = spark.createDataFrame(
        [("p1", "e1", "m1", T0, T0 + 24 * H, "NOREPINEPHRINE 8 MG/250 ML",
          "CONTINUOUS", "8", "mg"),
         ("p1", "e1", "m9", T0, T0 + 24 * H, "UNMATCHED MED",
          "Q6H", "1", "tab")],
        ["C19_PATIENT_ID", "C19_HAR_ID", "medication_id", "order_start_time",
         "order_end_time", "medication_name", "order_med_freq", "dose",
         "dose_units"])
    out = medications.build_medication_orders(orders, med_out)
    rows = {r["med_name"]: r.asDict() for r in out.collect()}
    assert rows["NOREPINEPHRINE 8 MG/250 ML"]["med_route"] == "IV"
    assert rows["UNMATCHED MED"]["med_route"] is None  # left join preserved


def test_admin_continuous_vs_intermittent(med_fixtures):
    admins, med_out, vocab = med_fixtures
    cont = [r.asDict() for r in
            medications.build_admin_continuous(admins, med_out, vocab).collect()]
    inter = [r.asDict() for r in
             medications.build_admin_intermittent(admins, med_out, vocab).collect()]
    assert [r["med_name"] for r in cont] == ["NOREPINEPHRINE 8 MG/250 ML"]
    # unit derived by stripping digits from the dose string (blank dose_units)
    assert cont[0]["med_dose_unit"] == "mcg/kg/min"
    assert cont[0]["med_dose"] == 5.0
    assert cont[0]["med_category"] == "vasoactive"
    assert cont[0]["med_route"] == "IV"
    # fentanyl: vocab-matched, non-continuous -> intermittent; aspirin: no
    # vocab match -> excluded from both
    assert [r["med_name"] for r in inter] == ["FENTANYL CITRATE 100 MCG"]
    assert inter[0]["med_dose"] == 100.0
    assert inter[0]["med_dose_unit"] == "mcg"
    assert inter[0]["med_category"] == "sedation"


def test_fuzzy_match_first_two_words_only(spark, med_fixtures):
    _, _, vocab = med_fixtures
    names = spark.createDataFrame(
        [("SODIUM CHLORIDE FENTANYL FLUSH",)], ["medication_name"])
    # fentanyl appears in word 3 -> outside the first-two-words window
    assert medications.match_med_vocab(names, vocab).count() == 0


# --- demographics -----------------------------------------------------------

def test_demographics_tables(spark):
    demo = spark.createDataFrame(
        [("p1", "BLACK OR AFRICAN AMERICAN", "NOT HISPANIC", "F",
          T0 - 40 * 365 * 24 * H),
         ("p2", "Declined", "Hispanic or Latino", "M",
          T0 - 70 * 365 * 24 * H)],
        ["C19_PATIENT_ID", "race", "ethnic", "sex", "birth_date"])
    enc = spark.createDataFrame(
        [("p1", "e1", "hb", T0, T0 + 72 * H),
         ("p1", "e1", "pb", T0, T0 + 72 * H),  # pb record filtered out
         ("p2", "e2", "hb", None, None)],      # null adm -> dropped in dispo
        ["C19_PATIENT_ID", "C19_HAR_ID", "record_type", "adm_date",
         "disc_date"])
    zips = spark.createDataFrame([("p1", "60637"), ("p2", "60615")],
                                 ["C19_PATIENT_ID", "zip_code"])
    xtra = spark.createDataFrame(
        [("p1", "e1", "hb", "Discharged to Home"),
         ("p1", "e1", "hb", "Expired")],  # keep-last by explicit order
        ["C19_PATIENT_ID", "C19_HAR_ID", "record_type", "discharge_dispo"])

    pd_out = {r["patient_id"]: r.asDict()
              for r in demographics.build_patient_demographics(demo).collect()}
    assert pd_out["p1"]["race"] == "Black"
    assert pd_out["p1"]["ethnicity"] == "Not Hispanic"
    assert pd_out["p2"]["race"] == "Unknown"
    assert pd_out["p2"]["ethnicity"] == "Hispanic"

    li = {r["encounter_id"]: r.asDict()
          for r in demographics.build_limited_identifiers(enc, demo, zips)
          .collect()}
    assert len(li) == 2 and li["e1"]["zip_code"] == "60637"

    dispo = [r.asDict()
             for r in demographics.build_encounter_dispo(enc, demo, xtra)
             .collect()]
    assert len(dispo) == 1  # p2 dropped by drop_na(adm_date)
    assert dispo[0]["age_at_admission"] in (39, 40)  # leap-day boundary
    # keep-last dedup ordered by discharge_dispo -> "Expired" sorts last
    assert dispo[0]["disposition"] == "Expired"
    assert len(dispo[0]["patient_id_hash"]) == 64


# --- admission diagnosis ----------------------------------------------------

def test_admission_diagnosis_projection(spark):
    from clif_spark.pipelines import admission_diagnosis as adx

    dx = spark.createDataFrame(
        [("6914", "100234", "Sepsis", "A41.9", "Y", "extra"),
         ("6914", "100235", "COVID-19", "U07.1", "N", "extra"),
         ("7001", "100500", "Pneumonia", "J18.9", None, "extra")],
        "C19_PATIENT_ID string, C19_HAR_ID string, dx_name string,"
        " icd10_code string, poa string, untouched string")
    out = adx.sorted_for_publication(adx.build_admission_diagnosis(dx))
    # published schema: renamed columns (typo'd dianosis_code preserved,
    # RCLIF_admission_diagnosis.Rmd:33), extra raw columns dropped
    assert out.columns == ["C19_PATIENT_ID", "C19_HAR_ID", "diagnosis_name",
                           "dianosis_code", "pta"]
    rows = [tuple(r) for r in out.collect()]
    assert rows == [
        ("6914", "100234", "Sepsis", "A41.9", "Y"),
        ("6914", "100235", "COVID-19", "U07.1", "N"),
        ("7001", "100500", "Pneumonia", "J18.9", None)]


def test_with_audit_counters_ride_the_single_action(spark):
    """operators.core.with_audit: per-stage audit metrics must (a) equal
    independently recomputed values, and (b) cost ZERO extra Spark jobs —
    the observation piggybacks on the one collect, which is the entire
    point at 100 TB."""
    from conftest import launched
    from pyspark.sql import functions as F

    from clif_spark.operators import core

    df = spark.range(10_000).selectExpr(
        "id", "id % 7 AS k", "CAST(id % 100 AS DOUBLE) AS v")
    staged, obs_in = core.with_audit(
        df, "ingest", n=F.count(F.lit(1)), v_sum=F.sum("v"))
    filtered = staged.filter(F.col("k") < 3)
    out, obs_flt = core.with_audit(
        filtered, "filtered", n=F.count(F.lit(1)),
        k_max=F.max("k"))
    # baseline: the identical aggregation without any observation
    _, base_jobs, _ = launched(
        spark,
        lambda: df.filter(F.col("k") < 3).groupBy("k").count().collect())
    rows, obs_jobs, _ = launched(
        spark, lambda: out.groupBy("k").count().collect())
    assert obs_jobs == base_jobs  # metrics rode along: zero extra jobs
    assert obs_in.get == {"n": 10_000, "v_sum": sum((i % 100) for i in range(10_000))}
    exp_flt = sum(1 for i in range(10_000) if i % 7 < 3)
    assert obs_flt.get == {"n": exp_flt, "k_max": 2}
    assert sum(r["count"] for r in rows) == exp_flt
