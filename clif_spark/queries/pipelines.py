"""Driver-gated pipeline recompositions (SURVEY §3).

The §3 pipelines are exercised by golden-fixture unit tests
(tests/test_pipelines.py), but until round 5 none faced the driver's DuckDB
differential gate — this module closes that gap for the flagship vitals
lifecycle (§3.1, `code/RCLIF_vitals.Rmd`).

The pipelines consume the reference's EHR extract schema (c19_flow_lds),
which the driver's star-schema testdata does not ship. The gated query
therefore SYNTHESIZES a deterministic flowsheet from the ``events`` table
with closed-form columns (pure integer arithmetic on event_id/user_id — no
float formatting, so both engines render identical strings), runs the REAL
``pipelines.vitals.build_vitals`` composition on it, and the oracle mirrors
the flow synthesis plus the pipeline's relational algebra in DuckDB SQL:
broadcast vocab join + not-null filter, the "120/80" split with R
``separate()`` NA fill, the sbp/dbp unpivot (NULL values retained), the
branch union, junk->NULL double casts, and the epoch->timestamp conversion
(projected back to epoch micros for cross-engine hashing, per the registry's
timestamp policy)."""

from __future__ import annotations

from pyspark.sql import functions as F

from clif_spark.pipelines import vitals as vitals_pipeline
from clif_spark.queries import pq, query

#: Closed-form flowsheet synthesis shared verbatim by both engines. Pure
#: integer arithmetic -> identical strings; event_id%5 picks the measurement
#: (0/4 BP, 1 pulse, 2 resp rate, 3 unmapped -> dropped by the vocab gate);
#: every 11th BP lacks the '/' (separate() NA fill path); every 7th pulse is
#: junk (as.numeric -> NULL path).
_FLOW_SYNTH = """
    SELECT CAST(user_id AS STRING) AS C19_PATIENT_ID,
           CAST(user_id * 10 + event_id % 3 AS STRING) AS C19_HAR_ID,
           CAST(1700000000 + event_id * 60 AS BIGINT) AS recorded_time,
           CASE WHEN event_id % 5 IN (0, 4) THEN 'BLOOD PRESSURE'
                WHEN event_id % 5 = 1 THEN 'PULSE'
                WHEN event_id % 5 = 2 THEN 'RESP RATE'
                ELSE 'UNMAPPED THING' END AS flo_meas_name,
           CASE WHEN event_id % 5 IN (0, 4) THEN
                  CASE WHEN event_id % 11 = 0
                       THEN CAST(100 + event_id % 60 AS STRING)
                       ELSE CONCAT(CAST(100 + event_id % 60 AS STRING), '/',
                                   CAST(60 + event_id % 40 AS STRING)) END
                WHEN event_id % 5 = 1 THEN
                  CASE WHEN event_id % 7 = 0 THEN 'junk'
                       ELSE CAST(60 + event_id % 100 AS STRING) END
                ELSE CAST(10 + event_id % 20 AS STRING) END AS meas_value,
           CASE WHEN event_id % 2 = 0 THEN 'arm' ELSE 'leg' END
             AS meas_site_name
    FROM {table}
"""

_VOCAB = [("BLOOD PRESSURE", "blood_pressure"), ("PULSE", "heart_rate"),
          ("RESP RATE", "resp_rate")]


@query(
    "pipeline_vitals",
    oracle=f"""
    WITH flow AS ({_FLOW_SYNTH.format(table='events')}),
    mapped AS (
      SELECT f.*, v.vital_name
      FROM flow f
      JOIN (VALUES {', '.join(repr(t) for t in _VOCAB)})
           AS v(flo_meas_name, vital_name)
        ON f.flo_meas_name = v.flo_meas_name
    ),
    bp AS (
      SELECT C19_PATIENT_ID, C19_HAR_ID, recorded_time, meas_site_name,
             str_split(meas_value, '/')[1] AS sbp,
             str_split(meas_value, '/')[2] AS dbp
      FROM mapped WHERE vital_name = 'blood_pressure'
    ),
    longform AS (
      SELECT C19_PATIENT_ID, C19_HAR_ID, recorded_time, meas_site_name,
             vital_name, meas_value AS vital_value
      FROM mapped WHERE vital_name <> 'blood_pressure'
      UNION ALL
      SELECT C19_PATIENT_ID, C19_HAR_ID, recorded_time, meas_site_name,
             'sbp', sbp FROM bp
      UNION ALL
      SELECT C19_PATIENT_ID, C19_HAR_ID, recorded_time, meas_site_name,
             'dbp', dbp FROM bp
    )
    SELECT C19_PATIENT_ID AS patient_id, C19_HAR_ID AS encounter_id,
           CAST(recorded_time * 1000000 AS BIGINT) AS recorded_us,
           vital_name, TRY_CAST(vital_value AS DOUBLE) AS vital_value,
           meas_site_name
    FROM longform
    """,
)
def pipeline_vitals(spark, sf_dir):
    """§3.1 vitals lifecycle end-to-end through the engine's own operator
    compositions (vocab broadcast join, not-null gate, BP split + unpivot
    with NULL retention, branch union, junk->NULL cast, epoch->ts), gated
    against a DuckDB replica of the same algebra over an identical
    synthesized flowsheet."""
    flow = spark.sql(_FLOW_SYNTH.format(table=pq(spark, sf_dir, "events")))
    vocab = spark.createDataFrame(_VOCAB, ["flo_meas_name", "vital_name"])
    out = vitals_pipeline.build_vitals(flow, vocab)
    return out.select(
        "patient_id", "encounter_id",
        F.unix_micros("recorded_time").alias("recorded_us"),
        "vital_name", "vital_value", "meas_site_name")


#: Respiratory-support flowsheet synthesis: event_id % 10 picks one of the
#: ten RT RS names; values are closed-form integer strings with planted
#: corner cases — junk lpm ('junk'), negative lpm ('-5'), above-clamp lpm
#: ('80' -> 60), and a junk primary FiO2 that must BLOCK the fallback
#: (the reference coalesces the raw strings before casting).
_RESP_SYNTH = """
    SELECT CAST(user_id AS STRING) AS C19_PATIENT_ID,
           CAST(user_id * 10 + event_id % 3 AS STRING) AS C19_HAR_ID,
           CAST(1700000000
                + CAST(FLOOR(event_id / 50.0) AS BIGINT) * 3600 AS BIGINT)
             AS recorded_time,
           CASE CAST(event_id % 10 AS INT)
                WHEN 0 THEN 'RT RS OXYGEN DEVICE' WHEN 1 THEN 'RT RS MODE'
                WHEN 2 THEN 'RT RS VENT SET VOLUME'
                WHEN 3 THEN 'RT RS PRESSURE SUPPORT'
                WHEN 4 THEN 'RT RS SET RESP RATE' WHEN 5 THEN 'RT RS LPM'
                WHEN 6 THEN 'RT RS FIO2' WHEN 7 THEN 'RT RS VENT FIO2'
                WHEN 8 THEN 'RT RS NI FIO2' ELSE 'RT RS PEEP' END
             AS flo_meas_name,
           CASE CAST(event_id % 10 AS INT)
                WHEN 0 THEN CASE CAST(event_id % 4 AS INT)
                     WHEN 0 THEN 'High Flow Nasal Cannula'
                     WHEN 1 THEN 'Ventilator' WHEN 2 THEN 'BiPap'
                     ELSE 'Room Air' END
                WHEN 1 THEN CASE CAST(event_id % 3 AS INT)
                     WHEN 0 THEN 'SIMV' WHEN 1 THEN 'AC/VC'
                     ELSE 'PRVC' END
                WHEN 2 THEN CAST(300 + event_id % 200 AS STRING)
                WHEN 3 THEN CAST(5 + event_id % 15 AS STRING)
                WHEN 4 THEN CAST(12 + event_id % 16 AS STRING)
                WHEN 5 THEN CASE CAST(event_id % 7 AS INT)
                     WHEN 0 THEN 'junk' WHEN 1 THEN '-5' WHEN 2 THEN '80'
                     ELSE CAST(event_id % 60 AS STRING) END
                WHEN 6 THEN CASE WHEN event_id % 6 = 0 THEN 'junk'
                     ELSE CAST(21 + event_id % 80 AS STRING) END
                WHEN 7 THEN CAST(30 + event_id % 70 AS STRING)
                WHEN 8 THEN CAST(25 + event_id % 75 AS STRING)
                ELSE CAST(event_id % 20 AS STRING) END AS meas_value
    FROM {table}
"""

_MODE_VOCAB = [("SIMV", "simv"), ("AC/VC", "assist_control"),
               ("PRVC", "prvc"), ("CPAP", "cpap_vocab_only")]

#: DuckDB mirror of windows.fill_downup: LOCF coalesced with NOCB.
_FILL = ("COALESCE("
         "last_value({c} IGNORE NULLS) OVER (PARTITION BY C19_PATIENT_ID, "
         "C19_HAR_ID ORDER BY recorded_time "
         "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), "
         "first_value({c} IGNORE NULLS) OVER (PARTITION BY C19_PATIENT_ID, "
         "C19_HAR_ID ORDER BY recorded_time "
         "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))")


@query(
    "pipeline_resp_support",
    oracle=f"""
    WITH flow AS ({_RESP_SYNTH.format(table='events')}),
    wide AS (
      SELECT C19_PATIENT_ID, C19_HAR_ID, recorded_time,
             MIN(CASE WHEN flo_meas_name = 'RT RS OXYGEN DEVICE'
                      THEN meas_value END) AS device_name,
             MIN(CASE WHEN flo_meas_name = 'RT RS MODE'
                      THEN meas_value END) AS mode_name,
             MIN(CASE WHEN flo_meas_name = 'RT RS VENT SET VOLUME'
                      THEN meas_value END) AS set_volume,
             MIN(CASE WHEN flo_meas_name = 'RT RS PRESSURE SUPPORT'
                      THEN meas_value END) AS pressure_support,
             MIN(CASE WHEN flo_meas_name = 'RT RS SET RESP RATE'
                      THEN meas_value END) AS set_resp_rate,
             MIN(CASE WHEN flo_meas_name = 'RT RS LPM'
                      THEN meas_value END) AS lpm_raw,
             MIN(CASE WHEN flo_meas_name = 'RT RS FIO2'
                      THEN meas_value END) AS fio2_a,
             MIN(CASE WHEN flo_meas_name = 'RT RS VENT FIO2'
                      THEN meas_value END) AS fio2_b,
             MIN(CASE WHEN flo_meas_name = 'RT RS NI FIO2'
                      THEN meas_value END) AS fio2_c,
             MIN(CASE WHEN flo_meas_name = 'RT RS PEEP'
                      THEN meas_value END) AS peep
      FROM flow
      GROUP BY C19_PATIENT_ID, C19_HAR_ID, recorded_time
    ),
    merged AS (
      SELECT w.C19_PATIENT_ID, w.C19_HAR_ID, w.recorded_time,
             w.device_name,
             COALESCE(w.mode_name, v.mode_name) AS mode_name,
             v.mode_category, w.set_volume, w.pressure_support,
             w.set_resp_rate, w.lpm_raw, w.fio2_a, w.fio2_b, w.fio2_c,
             w.peep
      FROM wide w
      FULL JOIN (VALUES {', '.join(repr(t) for t in _MODE_VOCAB)})
           AS v(mode_name, mode_category)
        ON w.mode_name = v.mode_name
    ),
    derived AS (
      SELECT *,
             CASE WHEN regexp_matches(device_name, '(?i)high flow')
                    THEN 'High Flow NC'
                  WHEN regexp_matches(device_name, '(?i)vent') THEN 'Vent'
                  WHEN regexp_matches(device_name, '(?i)bipap|cpap')
                    THEN 'NIPPV'
                  WHEN regexp_matches(device_name, '(?i)nasal cannula')
                    THEN 'Nasal Cannula'
                  WHEN regexp_matches(device_name, '(?i)room air')
                    THEN 'Room Air'
                  WHEN device_name IS NOT NULL THEN 'Other'
             END AS device_category,
             CASE WHEN TRY_CAST(lpm_raw AS DOUBLE) < 0 THEN NULL
                  ELSE CASE WHEN TRY_CAST(lpm_raw AS DOUBLE) > 60 THEN 60
                            ELSE TRY_CAST(lpm_raw AS DOUBLE) END
             END AS lpm,
             TRY_CAST(COALESCE(fio2_a, fio2_b, fio2_c) AS DOUBLE) / 100.0
               AS fio2
      FROM merged
    ),
    filled AS (
      SELECT C19_PATIENT_ID, C19_HAR_ID, recorded_time,
             {_FILL.format(c='device_name')} AS device_name,
             {_FILL.format(c='mode_name')} AS mode_name,
             {_FILL.format(c='mode_category')} AS mode_category,
             {_FILL.format(c='device_category')} AS device_category,
             set_volume, pressure_support, set_resp_rate, lpm, fio2, peep
      FROM derived
    )
    SELECT C19_PATIENT_ID AS patient_id, C19_HAR_ID AS encounter_id,
           CAST(recorded_time * 1000000 AS BIGINT) AS recorded_us,
           device_name, device_category, mode_name, mode_category,
           TRY_CAST(set_volume AS DOUBLE) AS set_volume,
           TRY_CAST(pressure_support AS DOUBLE) AS pressure_support,
           TRY_CAST(set_resp_rate AS DOUBLE) AS set_resp_rate,
           lpm, fio2, TRY_CAST(peep AS DOUBLE) AS peep,
           regexp_matches(device_name, '(?i)high flow') AS high_flow
    FROM filled
    """,
)
def pipeline_resp_support(spark, sf_dir):
    """§3.1's second output — the wide respiratory-support table — through
    the real ``build_respiratory_support`` composition: IN-filter, pivot
    wide with deterministic min_by cells, FULL vocab join (vocab-only
    modes survive with coalesced keys), first-match-wins device classify,
    junk/negative/clamp lpm cleaning, coalesce-then-cast FiO2 fallback,
    per-encounter downup fill, post-fill high_flow flag. The oracle
    replays every step in DuckDB over the identical synthesized flowsheet."""
    flow = spark.sql(_RESP_SYNTH.format(table=pq(spark, sf_dir, "events")))
    vocab = spark.createDataFrame(_MODE_VOCAB, ["mode_name", "mode_category"])
    out = vitals_pipeline.build_respiratory_support(flow, vocab)
    return out.select(
        "patient_id", "encounter_id",
        F.unix_micros("recorded_time").alias("recorded_us"),
        "device_name", "device_category", "mode_name", "mode_category",
        "set_volume", "pressure_support", "set_resp_rate",
        "lpm", "fio2", "peep", "high_flow")


# --- round-5 widening: the remaining §3 lifecycles through the gate ---------

#: Admission-diagnosis raw dump synthesis: the published-vocabulary rename
#: targets plus a noise column that the projection must drop.
_DX_SYNTH = """
    SELECT CAST(user_id AS STRING) AS C19_PATIENT_ID,
           CAST(user_id * 10 + event_id % 3 AS STRING) AS C19_HAR_ID,
           CONCAT('Diagnosis ', CAST(event_id % 25 AS STRING)) AS dx_name,
           CONCAT('I', LPAD(CAST(event_id % 100 AS STRING), 2, '0'), '.',
                  CAST(event_id % 10 AS STRING)) AS icd10_code,
           CASE CAST(event_id % 3 AS INT) WHEN 0 THEN 'Y' WHEN 1 THEN 'N'
                ELSE 'U' END AS poa,
           CAST(event_id AS STRING) AS chart_noise_col
    FROM {table}
"""


@query(
    "pipeline_admission_diagnosis",
    oracle=f"""
    WITH dx AS ({_DX_SYNTH.format(table='events')})
    SELECT C19_PATIENT_ID, C19_HAR_ID,
           dx_name AS diagnosis_name,
           icd10_code AS dianosis_code,
           poa AS pta
    FROM dx
    """,
)
def pipeline_admission_diagnosis(spark, sf_dir):
    """§3 smallest lifecycle (`code/RCLIF_admission_diagnosis.Rmd:29-35`)
    end-to-end: project (chart_noise_col must vanish) + publish renames —
    including the reference's preserved ``dianosis_code`` (sic) and
    poa->pta quirks — + the publication sort."""
    from clif_spark.pipelines import admission_diagnosis as dx_pipeline
    dx = spark.sql(_DX_SYNTH.format(table=pq(spark, sf_dir, "events")))
    return dx_pipeline.sorted_for_publication(
        dx_pipeline.build_admission_diagnosis(dx))


#: Scores flowsheet synthesis. event_id%6 picks the row kind: the four
#: in-list score names, a GLASGOW-regex decoy that is NOT in the in-list
#: (so the IN-filter's effect is observable through the downstream rlike),
#: and an unrelated row. Every 13th GCS is the non-numeric 'unable'
#: (as.numeric -> NULL -> NULL band).
_SCORE_SYNTH = """
    SELECT CAST(user_id AS STRING) AS C19_PATIENT_ID,
           CAST(user_id * 10 + event_id % 3 AS STRING) AS C19_HAR_ID,
           CAST(1700000000 + event_id * 45 AS BIGINT) AS recorded_time,
           CASE CAST(event_id % 6 AS INT)
                WHEN 0 THEN 'NUR RA GLASGOW ADULT SCORING'
                WHEN 1 THEN 'NUR RA RASS SCORE'
                WHEN 2 THEN 'NUR RA CAM ICU'
                WHEN 3 THEN 'R NUR BRADEN SCORE'
                WHEN 4 THEN 'GLASGOW COMA FAKE'
                ELSE 'SOME OTHER ROW' END AS flo_meas_name,
           CASE CAST(event_id % 6 AS INT)
                WHEN 0 THEN CASE WHEN event_id % 13 = 0 THEN 'unable'
                     ELSE CAST(3 + event_id % 13 AS STRING) END
                WHEN 1 THEN CAST(event_id % 10 - 5 AS STRING)
                WHEN 2 THEN CASE WHEN event_id % 2 = 0 THEN 'Positive'
                     ELSE 'Negative' END
                ELSE CAST(6 + event_id % 17 AS STRING) END AS meas_value
    FROM {table}
"""

_SCORE_GCS = "TRY_CAST(score_value AS DOUBLE)"


@query(
    "pipeline_scores",
    oracle=f"""
    WITH flow AS ({_SCORE_SYNTH.format(table='events')}),
    scores AS (
      SELECT C19_PATIENT_ID AS patient_id, C19_HAR_ID AS encounter_id,
             recorded_time, flo_meas_name AS score_name,
             meas_value AS score_value
      FROM flow
      WHERE flo_meas_name IN ('NUR RA GLASGOW ADULT SCORING',
                              'NUR RA RASS SCORE', 'NUR RA CAM ICU',
                              'R NUR BRADEN SCORE')
    )
    SELECT patient_id, encounter_id,
           CAST(recorded_time * 1000000 AS BIGINT) AS score_us,
           score_name, score_value,
           CAST(CASE WHEN {_SCORE_GCS} >= 15 THEN 0.0
                WHEN {_SCORE_GCS} >= 13 THEN 1.0
                WHEN {_SCORE_GCS} >= 10 THEN 2.0
                WHEN {_SCORE_GCS} >= 6 THEN 3.0
                WHEN {_SCORE_GCS} IS NOT NULL THEN 4.0
           END AS DOUBLE) AS sofa_neuro
    FROM scores
    WHERE regexp_matches(score_name, '(?i)glasgow')
    """,
)
def pipeline_scores(spark, sf_dir):
    """§3 scores lifecycle (`code/RCLIF_scores.Rmd:42-92`): in-list score
    filter (the GLASGOW-regex decoy outside the list proves the IN ran),
    rename + epoch->ts, then SOFA-neuro banding — junk GCS casts to NULL
    and must band to NULL, band edges are first-match-wins."""
    from clif_spark.pipelines import scores as scores_pipeline
    flow = spark.sql(_SCORE_SYNTH.format(table=pq(spark, sf_dir, "events")))
    out = scores_pipeline.sofa_neuro_band(scores_pipeline.build_scores(flow))
    return out.select(
        "patient_id", "encounter_id",
        F.unix_micros("score_time").alias("score_us"),
        "score_name", "score_value", "sofa_neuro")


#: ADT stay synthesis: the reference's mixed time encodings (in_time is a
#: datetime STRING, out_time epoch seconds), a non-castable patient id every
#: 9th row (the warning-as-filter drop), and department/room names chosen to
#: exercise every classify branch INCLUDING first-match-wins shadowing
#: ('MAIN OR 2' hits Procedural via or\\b before Ward could see it).
_ADT_SYNTH = """
    SELECT CASE WHEN event_id % 9 = 0
                THEN CONCAT('P', CAST(user_id AS STRING))
                ELSE CAST(user_id AS STRING) END AS C19_PATIENT_ID,
           CAST(user_id * 10 + event_id % 3 AS STRING) AS C19_HAR_ID,
           CONCAT('2023-', LPAD(CAST(1 + event_id % 12 AS STRING), 2, '0'),
                  '-', LPAD(CAST(1 + event_id % 28 AS STRING), 2, '0'),
                  ' ', LPAD(CAST(event_id % 24 AS STRING), 2, '0'),
                  ':', LPAD(CAST(event_id % 60 AS STRING), 2, '0'),
                  ':00') AS in_time,
           CAST(1672531200 + event_id * 1800 AS BIGINT) AS out_time,
           CASE CAST(event_id % 5 AS INT)
                WHEN 0 THEN 'MICU 4' WHEN 1 THEN 'ED TRIAGE'
                WHEN 2 THEN 'MAIN OR 2' WHEN 3 THEN 'N3 MED WING'
                ELSE 'OUTPATIENT CLINIC' END AS adt_department_name,
           CASE CAST(event_id % 4 AS INT)
                WHEN 0 THEN 'TRAUMA 1'
                WHEN 1 THEN CAST(100 + event_id % 50 AS STRING)
                WHEN 2 THEN CONCAT('B', CAST(event_id % 9 AS STRING))
                ELSE 'HALLWAY' END AS adt_room_nm_wid
    FROM {table}
"""


@query(
    "pipeline_adt",
    oracle=r"""
    WITH adt AS (%s),
    valid AS (
      SELECT * FROM adt WHERE TRY_CAST(C19_PATIENT_ID AS DOUBLE) IS NOT NULL
    )
    SELECT C19_PATIENT_ID AS patient_id, C19_HAR_ID AS encounter_id,
           CAST(epoch(strptime(in_time, '%%Y-%%m-%%d %%H:%%M:%%S'))
                * 1000000 AS BIGINT) AS start_us,
           CAST(out_time * 1000000 AS BIGINT) AS end_us,
           adt_department_name,
           CASE WHEN regexp_matches(adt_department_name, '(?i)icu|ccu|d2')
                  THEN 'ICU'
                WHEN regexp_matches(adt_department_name, '(?i)^ed|emergency')
                  THEN 'ED'
                WHEN regexp_matches(adt_department_name, '(?i)or\b|surg|pacu')
                  THEN 'Procedural'
                WHEN regexp_matches(adt_department_name, '(?i)n\d|med|floor')
                  THEN 'Ward'
                ELSE 'Other' END AS dept_name,
           adt_room_nm_wid,
           CASE WHEN regexp_matches(adt_room_nm_wid, '(?i)trauma')
                  THEN 'trauma'
                WHEN regexp_matches(adt_room_nm_wid, '^[0-9]+$')
                  THEN 'standard'
                WHEN regexp_matches(adt_room_nm_wid, '(?i)^[a-z]\d')
                  THEN 'unit_bed'
                ELSE 'other' END AS room_name
    FROM valid
    """ % _ADT_SYNTH.format(table='events'),
)
def pipeline_adt(spark, sf_dir):
    """§3 ADT lifecycle (`code/RCLIF_adt.Rmd:32-89`): non-castable patient
    ids dropped (P11 warning-as-filter), the string in_time parsed vs the
    epoch out_time converted (the reference's mixed encodings preserved),
    and both regex classify ladders — the oracle replays the same branch
    order so first-match-wins shadowing must agree."""
    from clif_spark.pipelines import adt as adt_pipeline
    stays = spark.sql(_ADT_SYNTH.format(table=pq(spark, sf_dir, "events")))
    out = adt_pipeline.build_adt(stays)
    return out.select(
        "patient_id", "encounter_id",
        F.unix_micros("start_time").alias("start_us"),
        F.unix_micros("end_time").alias("end_us"),
        "adt_department_name", "dept_name",
        "adt_room_nm_wid", "room_name")


#: Labs extract synthesis. Every derived column is a closed form of
#: event_id % 400 ONLY (user_id deliberately unused), so the ~1000-row
#: events table yields guaranteed exact-duplicate extract rows — the
#: pipeline's whole-row dedup (`code/RCLIF_labs.Rmd:75`) must collapse
#: them identically on both engines. Decimal lab values are built by string
#: CONCAT of integer parts (never float formatting). Every 11th value is
#: the assay-limit string '<0.5' (as.numeric -> NULL fidelity).
_LAB_SYNTH = """
    SELECT CAST(event_id % 400 % 37 AS STRING) AS C19_PATIENT_ID,
           CAST((event_id % 400 % 37) * 10 + event_id % 400 % 3 AS STRING)
             AS C19_HAR_ID,
           CAST(1700000000 + (event_id % 400) * 120 AS BIGINT) AS order_time,
           CAST(1700001800 + (event_id % 400) * 120 AS BIGINT) AS result_time,
           CASE CAST(event_id % 400 % 5 AS INT)
                WHEN 0 THEN 'SODIUM' WHEN 1 THEN 'CREATININE'
                WHEN 2 THEN 'WBC' WHEN 3 THEN 'UNMAPPED ASSAY'
                ELSE 'RANDOM PANEL' END AS component_name,
           CASE WHEN event_id % 400 % 11 = 0 THEN '<0.5'
                ELSE CONCAT(CAST(event_id % 400 % 90 AS STRING), '.',
                            CAST(event_id % 400 % 10 AS STRING)) END
             AS ord_value,
           CASE CAST(event_id % 400 % 5 AS INT)
                WHEN 0 THEN 'mmol/L' WHEN 1 THEN 'mg/dL' WHEN 2 THEN 'K/uL'
                ELSE '' END AS reference_unit
    FROM {table}
"""

_LAB_VOCAB = [("SODIUM", "sodium", "electrolytes", "chemistry"),
              ("CREATININE", "creatinine", "renal", "chemistry"),
              ("WBC", "wbc", "cbc", "hematology")]


@query(
    "pipeline_labs",
    oracle=f"""
    WITH labs AS ({_LAB_SYNTH.format(table='events')}),
    mapped AS (
      SELECT l.*, v.lab_name, v.lab_group, v.lab_type_name
      FROM labs l
      JOIN (VALUES {', '.join(repr(t) for t in _LAB_VOCAB)})
           AS v(component_name, lab_name, lab_group, lab_type_name)
        ON l.component_name = v.component_name
    ),
    pub AS (
      SELECT DISTINCT
             C19_PATIENT_ID AS patient_id, C19_HAR_ID AS encounter_id,
             CAST(order_time * 1000000 AS BIGINT) AS order_us,
             CAST(result_time * 1000000 AS BIGINT) AS result_us,
             lab_group, lab_name, ord_value AS lab_value,
             reference_unit, lab_type_name
      FROM mapped
    )
    SELECT pub.*, TRY_CAST(lab_value AS DOUBLE) AS lab_value_numeric
    FROM pub
    """,
)
def pipeline_labs(spark, sf_dir):
    """§3 labs lifecycle (`code/RCLIF_labs.Rmd:46-75`) end-to-end: broadcast
    component-vocab join with unmapped components dropped, whole-row dedup
    over planted exact duplicates, epoch->ts for order/result times, plus
    the downstream as.numeric value cast ('<0.5' -> NULL on both engines)."""
    from clif_spark.pipelines import labs as labs_pipeline
    raw = spark.sql(_LAB_SYNTH.format(table=pq(spark, sf_dir, "events")))
    vocab = spark.createDataFrame(
        _LAB_VOCAB, ["component_name", "lab_name", "lab_group", "lab_type_name"])
    out = labs_pipeline.numeric_lab_values(labs_pipeline.build_labs(raw, vocab))
    return out.select(
        "patient_id", "encounter_id",
        F.unix_micros("lab_order_time").alias("order_us"),
        F.unix_micros("lab_result_time").alias("result_us"),
        "lab_group", "lab_name", "lab_value", "reference_unit",
        "lab_type_name", "lab_value_numeric")


#: Demographics synthesis: race/ethnicity raw strings covering every
#: classify branch plus both fall-through defaults; 'American Indian or
#: Alaska Native' doubles as a substring trap for the earlier
#: 'asian indian|asian' branch (it must NOT match).
_DEMO_SYNTH = """
    SELECT CAST(user_id AS STRING) AS C19_PATIENT_ID,
           CASE CAST(user_id % 8 AS INT)
                WHEN 0 THEN 'Black or African American'
                WHEN 1 THEN 'White' WHEN 2 THEN 'Asian'
                WHEN 3 THEN 'American Indian or Alaska Native'
                WHEN 4 THEN 'Native Hawaiian or Other Pacific Islander'
                WHEN 5 THEN 'Patient Declined' WHEN 6 THEN 'Some Other Race'
                ELSE 'Unknown' END AS race,
           CASE CAST(user_id % 3 AS INT)
                WHEN 0 THEN 'Not Hispanic or Latino'
                WHEN 1 THEN 'Hispanic or Latino'
                ELSE 'Declined' END AS ethnic,
           CASE WHEN user_id % 2 = 0 THEN 'F' ELSE 'M' END AS sex
    FROM {table}
"""


@query(
    "pipeline_demographics",
    oracle=f"""
    WITH demo AS ({_DEMO_SYNTH.format(table='events')})
    SELECT C19_PATIENT_ID AS patient_id,
           CASE WHEN regexp_matches(race, '(?i)black|african') THEN 'Black'
                WHEN regexp_matches(race, '(?i)white') THEN 'White'
                WHEN regexp_matches(race, '(?i)asian indian|asian')
                  THEN 'Asian'
                WHEN regexp_matches(race, '(?i)american indian|alaska')
                  THEN 'American Indian'
                WHEN regexp_matches(race, '(?i)hawaiian|pacific')
                  THEN 'Pacific Islander'
                WHEN regexp_matches(race, '(?i)declin|unknown')
                  THEN 'Unknown'
                ELSE 'Other' END AS race,
           CASE WHEN regexp_matches(ethnic, '(?i)not hispanic')
                  THEN 'Not Hispanic'
                WHEN regexp_matches(ethnic, '(?i)hispanic|latino')
                  THEN 'Hispanic'
                ELSE 'Other' END AS ethnicity,
           sex
    FROM demo
    """,
)
def pipeline_demographics(spark, sf_dir):
    """§3 demographics lifecycle (`code/RCLIF_demographics.Rmd:53-86`): the
    race/ethnicity first-match-wins regex ladders — including the
    'Not Hispanic' before 'hispanic|latino' ordering trap — replayed
    branch-for-branch by the oracle."""
    from clif_spark.pipelines import demographics as demo_pipeline
    demo = spark.sql(_DEMO_SYNTH.format(table=pq(spark, sf_dir, "events")))
    return demo_pipeline.build_patient_demographics(demo)


#: Encounter spine synthesis: hb/pb record types (pb must vanish), an
#: admission epoch that is NULL every 13th row (drop_na path), and
#: midnight-aligned day-grain epochs so the age computation sees clean
#: calendar dates.
_ENC_SYNTH = """
    SELECT CAST(user_id AS STRING) AS C19_PATIENT_ID,
           CAST(user_id * 10 + event_id % 3 AS STRING) AS C19_HAR_ID,
           CASE WHEN event_id % 4 = 0 THEN 'pb' ELSE 'hb' END
             AS record_type,
           CASE WHEN event_id % 13 = 0 THEN CAST(NULL AS BIGINT)
                ELSE CAST(86400 * (18500 + event_id % 300) AS BIGINT) END
             AS adm_date,
           CAST(86400 * (18505 + event_id % 300) AS BIGINT) AS disc_date
    FROM {table}
"""

#: Per-patient birth dates: closed form of user_id only, then DISTINCT —
#: one row per patient, 1970-2010 era, midnight-aligned.
_BIRTH_SYNTH = """
    SELECT DISTINCT CAST(user_id AS STRING) AS C19_PATIENT_ID,
           CAST(86400 * ((user_id % 40) * 365 + user_id % 300 + 120)
                AS BIGINT) AS birth_date
    FROM {table}
"""

#: Disposition extract: repeated rows per encounter with hb/pb types; the
#: keep-last dedup resolves repeats by max(discharge_dispo).
_XTRA_SYNTH = """
    SELECT CAST(user_id AS STRING) AS C19_PATIENT_ID,
           CAST(user_id * 10 + event_id % 3 AS STRING) AS C19_HAR_ID,
           CASE WHEN event_id % 5 = 0 THEN 'pb' ELSE 'hb' END
             AS record_type,
           CASE CAST(event_id % 7 AS INT)
                WHEN 0 THEN 'Expired'
                WHEN 1 THEN 'Discharged to Hospice Care'
                WHEN 2 THEN 'Discharged to Home or Self Care'
                WHEN 3 THEN 'Skilled Nursing Facility'
                WHEN 4 THEN 'Acute Rehab Unit'
                WHEN 5 THEN 'Discharged/Transferred to Another Facility'
                ELSE 'Left Against Medical Advice' END AS discharge_dispo
    FROM {table}
"""

#: DuckDB mirror of Spark's months_between(a, b) for midnight timestamps:
#: whole calendar months, plus (day(a)-day(b))/31 unless the days match or
#: both dates are month-ends (org.apache.spark.sql.catalyst.util.
#: DateTimeUtils.monthsBetween semantics).
_MONTHS_BETWEEN = """
    ((YEAR({a}) - YEAR({b})) * 12 + (MONTH({a}) - MONTH({b}))
     + CASE WHEN DAY({a}) = DAY({b})
                 OR (CAST({a} AS DATE) = last_day(CAST({a} AS DATE))
                     AND CAST({b} AS DATE) = last_day(CAST({b} AS DATE)))
            THEN 0.0 ELSE (DAY({a}) - DAY({b})) / 31.0 END)
"""


@query(
    "pipeline_encounter_dispo",
    oracle=f"""
    WITH enc AS ({_ENC_SYNTH.format(table='events')}),
    demo AS ({_BIRTH_SYNTH.format(table='events')}),
    xtra AS ({_XTRA_SYNTH.format(table='events')}),
    hb AS (
      SELECT * FROM enc WHERE record_type = 'hb' AND adm_date IS NOT NULL
    ),
    aged AS (
      SELECT h.C19_PATIENT_ID, h.C19_HAR_ID,
             CAST(FLOOR({_MONTHS_BETWEEN.format(
                 a="make_timestamp(h.adm_date * 1000000)",
                 b="make_timestamp(d.birth_date * 1000000)")} / 12.0)
               AS BIGINT) AS age_at_admission
      FROM hb h
      JOIN demo d ON h.C19_PATIENT_ID = d.C19_PATIENT_ID
    ),
    last_dispo AS (
      SELECT C19_PATIENT_ID, C19_HAR_ID, discharge_dispo
      FROM (
        SELECT *, ROW_NUMBER() OVER (
                 PARTITION BY C19_PATIENT_ID, C19_HAR_ID
                 ORDER BY discharge_dispo DESC) AS rn
        FROM xtra WHERE record_type = 'hb'
      ) WHERE rn = 1
    )
    SELECT a.C19_PATIENT_ID AS patient_id, a.C19_HAR_ID AS encounter_id,
           a.age_at_admission,
           CASE WHEN regexp_matches(l.discharge_dispo,
                                    '(?i)expired|death|died') THEN 'Expired'
                WHEN regexp_matches(l.discharge_dispo, '(?i)hospice')
                  THEN 'Hospice'
                WHEN regexp_matches(l.discharge_dispo, '(?i)home')
                  THEN 'Home'
                WHEN regexp_matches(l.discharge_dispo,
                                    '(?i)skilled nursing|snf') THEN 'SNF'
                WHEN regexp_matches(l.discharge_dispo, '(?i)rehab')
                  THEN 'Rehab'
                WHEN regexp_matches(l.discharge_dispo,
                                    '(?i)discharged/transferred|another')
                  THEN 'Transferred'
                ELSE 'Other' END AS disposition,
           sha256(a.C19_PATIENT_ID) AS patient_id_hash
    FROM aged a
    LEFT JOIN last_dispo l
      ON a.C19_PATIENT_ID = l.C19_PATIENT_ID
     AND a.C19_HAR_ID = l.C19_HAR_ID
    """,
)
def pipeline_encounter_dispo(spark, sf_dir):
    """§3 disposition lifecycle (`code/RCLIF_demographics.Rmd:93-118` +
    `code/RCLIF_disposition.Rmd:51-90`): hb-spine filter + drop_na, calendar
    age at admission (the oracle replays Spark's months_between day-of-month
    rules), keep-last disposition dedup with an explicit deterministic
    order, the disposition classify ladder, and the sha-256 pseudonymized
    patient id."""
    from clif_spark.pipelines import demographics as demo_pipeline
    enc = spark.sql(_ENC_SYNTH.format(table=pq(spark, sf_dir, "events")))
    demo = spark.sql(_BIRTH_SYNTH.format(table=pq(spark, sf_dir, "events")))
    xtra = spark.sql(_XTRA_SYNTH.format(table=pq(spark, sf_dir, "events")))
    return demo_pipeline.build_encounter_dispo(enc, demo, xtra)


#: Medication-administration synthesis (`code/RCLIF_medications.Rmd`):
#: six med names — four fuzzy-matchable in their first two words, one
#: real-but-unvocabed (ACETAMINOPHEN), one junk; dose strings with planted
#: no-token junk; blank AND NULL dose_units (both take the derived unit);
#: CONTINUOUS / CONTINUOUS PRN / scheduled frequencies.
_MED_ADMIN_SYNTH = """
    SELECT CAST(user_id AS STRING) AS C19_PATIENT_ID,
           CAST(user_id * 10 + event_id % 3 AS STRING) AS C19_HAR_ID,
           CAST(event_id % 50 AS BIGINT) AS medication_id,
           CAST(86400 * (19000 + event_id % 100) AS BIGINT)
             AS order_start_time,
           CASE CAST(event_id % 6 AS INT)
                WHEN 0 THEN 'NOREPINEPHRINE 8 MG/250 ML NS'
                WHEN 1 THEN 'FENTANYL CITRATE 2500 MCG/250ML'
                WHEN 2 THEN 'PROPOFOL 1000 MG/100 ML'
                WHEN 3 THEN 'VANCOMYCIN 1 G IVPB'
                WHEN 4 THEN 'ACETAMINOPHEN 500 MG TAB'
                ELSE 'MYSTERY COMPOUND 5 ML' END AS medication_name,
           CAST(1700000000 + event_id * 90 AS BIGINT) AS take_med_dttm,
           CASE CAST(event_id % 5 AS INT)
                WHEN 0 THEN '8.5 mcg/kg/min' WHEN 1 THEN '12 mL/hr'
                WHEN 2 THEN '50' WHEN 3 THEN 'junk dose'
                ELSE '100 mg' END AS take_med_dose,
           CASE CAST(event_id % 4 AS INT)
                WHEN 0 THEN '' WHEN 1 THEN 'mcg/kg/min'
                WHEN 2 THEN 'mL/hr'
                ELSE CAST(NULL AS STRING) END AS dose_units,
           CASE CAST(event_id % 3 AS INT)
                WHEN 0 THEN 'CONTINUOUS' WHEN 1 THEN 'Q4H SCHEDULED'
                ELSE 'CONTINUOUS PRN' END AS order_med_freq
    FROM {table}
"""

#: med_out route enrichment: DISTINCT over the 5-column composite key with
#: a key-dependent route (so DISTINCT is well-defined); every 7th
#: medication_id is withheld -> those admins keep a NULL med_route through
#: the left join.
_MED_OUT_SYNTH = """
    SELECT DISTINCT CAST(user_id AS STRING) AS C19_PATIENT_ID,
           CAST(user_id * 10 + event_id % 3 AS STRING) AS C19_HAR_ID,
           CAST(event_id % 50 AS BIGINT) AS MED_ID,
           CAST(86400 * (19000 + event_id % 100) AS BIGINT)
             AS ORDER_START_TIME,
           CASE CAST(event_id % 6 AS INT)
                WHEN 0 THEN 'NOREPINEPHRINE 8 MG/250 ML NS'
                WHEN 1 THEN 'FENTANYL CITRATE 2500 MCG/250ML'
                WHEN 2 THEN 'PROPOFOL 1000 MG/100 ML'
                WHEN 3 THEN 'VANCOMYCIN 1 G IVPB'
                WHEN 4 THEN 'ACETAMINOPHEN 500 MG TAB'
                ELSE 'MYSTERY COMPOUND 5 ML' END AS MEDICATION,
           CASE CAST(event_id % 50 % 3 AS INT)
                WHEN 0 THEN 'IV' WHEN 1 THEN 'PO' ELSE 'IM' END AS MED_ROUTE
    FROM {table} WHERE event_id % 50 % 7 <> 0
"""

_MED_VOCAB = [("norepinephrine", "vasopressor"), ("fentanyl", "opioid"),
              ("propofol", "sedative"), ("vancomycin", "antibiotic")]

#: DuckDB mirror of scalars.extract_dose: concatenated numeric tokens,
#: NULL when none, junk-safe cast.
_DOSE_EXTRACT = (r"TRY_CAST(NULLIF(array_to_string(regexp_extract_all("
                 r"take_med_dose, '([-+]?[0-9]*\.?[0-9]+([eE][-+]?[0-9]+)?)',"
                 r" 1), ''), '') AS DOUBLE)")


@query(
    "pipeline_med_admin_continuous",
    oracle=f"""
    WITH admins AS ({_MED_ADMIN_SYNTH.format(table='events')}),
    med_out AS ({_MED_OUT_SYNTH.format(table='events')}),
    matches AS (
      SELECT DISTINCT n.medication_name, v.med_name, v.med_category
      FROM (SELECT DISTINCT medication_name FROM admins) n
      JOIN (VALUES {', '.join(repr(t) for t in _MED_VOCAB)})
           AS v(med_name, med_category)
        ON regexp_matches(
             array_to_string(list_slice(
                 string_split(n.medication_name, ' '), 1, 2), ' '),
             '(?i)\\b' || v.med_name || '\\b')
    ),
    base AS (
      SELECT a.*,
             CAST(a.take_med_dttm * 1000000 AS BIGINT) AS admin_us,
             CASE WHEN a.dose_units IS NULL OR TRIM(a.dose_units) = ''
                  THEN TRIM(regexp_replace(a.take_med_dose, '[0-9.]+', '',
                                           'g'))
                  ELSE a.dose_units END AS med_dose_unit,
             {_DOSE_EXTRACT} AS med_dose,
             m.MED_ROUTE AS med_route
      FROM admins a
      LEFT JOIN med_out m
        ON a.C19_PATIENT_ID = m.C19_PATIENT_ID
       AND a.C19_HAR_ID = m.C19_HAR_ID
       AND a.medication_id = m.MED_ID
       AND a.order_start_time = m.ORDER_START_TIME
       AND a.medication_name = m.MEDICATION
    )
    SELECT b.C19_PATIENT_ID AS patient_id, b.C19_HAR_ID AS encounter_id,
           b.admin_us, b.medication_name AS med_name, b.med_route,
           c.med_category, b.med_dose, b.med_dose_unit
    FROM base b
    JOIN (SELECT DISTINCT medication_name, med_category FROM matches) c
      ON b.medication_name = c.medication_name
    WHERE regexp_matches(b.order_med_freq, '(?i)CONTINUOUS')
      AND regexp_matches(b.med_dose_unit, '(?i)(min|hr|day)')
    """,
)
def pipeline_med_admin_continuous(spark, sf_dir):
    """§3.2 continuous-administration lifecycle
    (`code/RCLIF_medications.Rmd:98-170`) end-to-end: the distinct-names
    fuzzy vocab regex join (J6), unit derivation by digit-stripping with
    blank/NULL fallback (F3/F6), concatenated-token dose extraction (F4,
    'junk dose' -> NULL), the CONTINUOUS × rate-unit filter pair, the
    5-column composite route join (J2, every 7th med withheld -> NULL
    route), semi-join to matched names (J4), and the category vocab join.
    The oracle replays each stage in DuckDB over identical synthesis."""
    from clif_spark.pipelines import medications as med_pipeline
    admins = spark.sql(_MED_ADMIN_SYNTH.format(table=pq(spark, sf_dir, "events")))
    med_out = spark.sql(_MED_OUT_SYNTH.format(table=pq(spark, sf_dir, "events")))
    vocab = spark.createDataFrame(_MED_VOCAB, ["med_name", "med_category"])
    out = med_pipeline.build_admin_continuous(admins, med_out, vocab)
    return out.select(
        "patient_id", "encounter_id",
        F.unix_micros("admin_dttm").alias("admin_us"),
        "med_name", "med_route", "med_category", "med_dose",
        "med_dose_unit")


#: Dialysis flowsheet synthesis (`code/RCLIF_dialysis.Rmd`): every 11th row
#: fails the %like% DIALYSIS prefilter; flo_group_name cycles through all
#: seven modality groups; meas_value plants zeros (the PD nonzero filter)
#: and junk (as.numeric -> NULL); the coarse 48-hour time grid guarantees
#: (encounter, time) collisions so the distinct/lead tie behavior is
#: actually exercised.
_DIALYSIS_SYNTH = """
    SELECT CAST(user_id AS STRING) AS C19_PATIENT_ID,
           CAST(user_id * 10 + event_id % 3 AS STRING) AS C19_HAR_ID,
           CAST(1700000000 + (event_id % 48) * 3600 AS BIGINT)
             AS recorded_time,
           CASE WHEN event_id % 11 = 0 THEN 'OTHER FLOWSHEET ROW'
                ELSE CONCAT('DIALYSIS ROW ', CAST(event_id % 4 AS STRING))
           END AS flo_meas_name,
           CASE CAST(event_id % 7 AS INT)
                WHEN 0 THEN 'Fluid Delivered (L/Hr)'
                WHEN 1 THEN 'Actual Fluid Removed (mL)'
                WHEN 2 THEN 'Machine Number'
                WHEN 3 THEN 'aUltra Filtration Net Loss'
                WHEN 4 THEN 'Initial Drain' WHEN 5 THEN 'Fill Volume'
                ELSE 'Total Ultrafiltration' END AS flo_group_name,
           CASE WHEN event_id % 9 = 0 THEN '0'
                WHEN event_id % 9 = 1 THEN 'junk'
                ELSE CAST(event_id % 70 AS STRING) END AS meas_value
    FROM {table}
"""


@query(
    "pipeline_dialysis",
    oracle=f"""
    WITH flowio AS ({_DIALYSIS_SYNTH.format(table='events')}),
    drows AS (
      SELECT DISTINCT C19_PATIENT_ID AS patient_id,
             C19_HAR_ID AS encounter_id, recorded_time, flo_group_name,
             meas_value
      FROM flowio WHERE flo_meas_name LIKE '%DIALYSIS%'
    ),
    crrt_times AS (
      SELECT DISTINCT patient_id, encounter_id, recorded_time
      FROM drows WHERE flo_group_name IN ('Fluid Delivered (L/Hr)',
                                          'Actual Fluid Removed (mL)')
    ),
    crrt_flow AS (
      SELECT DISTINCT encounter_id, recorded_time AS stop_t,
             TRY_CAST(meas_value AS DOUBLE) AS dialysate_flow_amount
      FROM drows WHERE flo_group_name = 'Fluid Delivered (L/Hr)'
    ),
    crrt_removal AS (
      SELECT DISTINCT encounter_id, recorded_time AS stop_t,
             TRY_CAST(meas_value AS DOUBLE) AS ultrafiltration_amount
      FROM drows WHERE flo_group_name = 'Actual Fluid Removed (mL)'
    ),
    crrt AS (
      SELECT t.patient_id, t.encounter_id, 'crrt' AS dialysis_type,
             t.recorded_time - 3600 AS start_t, t.recorded_time AS stop_t,
             f.dialysate_flow_amount, r.ultrafiltration_amount
      FROM crrt_times t
      LEFT JOIN crrt_flow f ON t.encounter_id = f.encounter_id
                           AND t.recorded_time = f.stop_t
      LEFT JOIN crrt_removal r ON t.encounter_id = r.encounter_id
                              AND t.recorded_time = r.stop_t
    ),
    ihd_eps AS (
      SELECT patient_id, encounter_id, flo_group_name,
             recorded_time AS start_t,
             LEAD(recorded_time) OVER (PARTITION BY encounter_id
                 ORDER BY recorded_time, flo_group_name) AS stop_t
      FROM drows WHERE flo_group_name IN ('Machine Number',
                                          'aUltra Filtration Net Loss')
    ),
    ihd AS (
      SELECT e.patient_id, e.encounter_id, 'ihd' AS dialysis_type,
             e.start_t, e.stop_t,
             CAST(NULL AS DOUBLE) AS dialysate_flow_amount,
             r.ultrafiltration_amount
      FROM ihd_eps e
      JOIN (SELECT DISTINCT encounter_id, recorded_time AS stop_t,
                   TRY_CAST(meas_value AS DOUBLE) AS ultrafiltration_amount
            FROM drows
            WHERE flo_group_name = 'aUltra Filtration Net Loss') r
        ON e.encounter_id = r.encounter_id AND e.stop_t = r.stop_t
      WHERE e.flo_group_name = 'Machine Number'
        AND r.ultrafiltration_amount IS NOT NULL
    ),
    pd_eps AS (
      SELECT patient_id, encounter_id, flo_group_name,
             recorded_time AS start_t,
             LEAD(recorded_time) OVER (PARTITION BY encounter_id
                 ORDER BY recorded_time, flo_group_name) AS stop_t
      FROM drows
      WHERE flo_group_name IN ('Initial Drain', 'Fill Volume',
                               'Total Ultrafiltration')
        AND TRY_CAST(meas_value AS DOUBLE) <> 0
    ),
    pd AS (
      SELECT e.patient_id, e.encounter_id, 'pd' AS dialysis_type,
             e.start_t, e.stop_t,
             CAST(NULL AS DOUBLE) AS dialysate_flow_amount,
             r.ultrafiltration_amount
      FROM pd_eps e
      JOIN (SELECT DISTINCT encounter_id, recorded_time AS stop_t,
                   TRY_CAST(meas_value AS DOUBLE) AS ultrafiltration_amount
            FROM drows
            WHERE flo_group_name = 'Total Ultrafiltration') r
        ON e.encounter_id = r.encounter_id AND e.stop_t = r.stop_t
      WHERE e.flo_group_name = 'Fill Volume'
        AND r.ultrafiltration_amount IS NOT NULL
    )
    SELECT patient_id, encounter_id, dialysis_type,
           CAST(start_t * 1000000 AS BIGINT) AS start_us,
           CAST(stop_t * 1000000 AS BIGINT) AS stop_us,
           dialysate_flow_amount, ultrafiltration_amount
    FROM (SELECT * FROM crrt UNION ALL SELECT * FROM ihd
          UNION ALL SELECT * FROM pd)
    """,
)
def pipeline_dialysis(spark, sf_dir):
    """§3.3 dialysis lifecycle (`code/RCLIF_dialysis.Rmd:32-157`) — the
    reference's most engine-like computation — end-to-end: %like% prefilter
    + row distinct, CRRT stop-minus-1h episodes with value joins on the
    (encounter, stop) key, iHD/PD lead(ts) episodes (the oracle replays the
    same explicit tiebreak; equal-timestamp ties are provably
    order-insensitive because lead only reads ts), the PD nonzero filter
    (junk -> NULL -> dropped), and the 3-modality union with NULL-filled
    missing columns."""
    from clif_spark.pipelines import dialysis as dialysis_pipeline
    flow = spark.sql(_DIALYSIS_SYNTH.format(table=pq(spark, sf_dir, "events")))
    out = dialysis_pipeline.build_dialysis(flow)
    return out.select(
        "patient_id", "encounter_id", "dialysis_type",
        F.unix_micros("start_time").alias("start_us"),
        F.unix_micros("stop_time").alias("stop_us"),
        "dialysate_flow_amount", "ultrafiltration_amount")
