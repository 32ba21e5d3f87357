"""Seeded benchmark inputs, written as parquet and cached by seed.

Run as ``python3 perfbench/inputs.py --workload W --seed N --out DIR``;
``run.py`` does this in a child process so the generator's memory never
shows in the driver's peak RSS.  The same seed gives byte-identical
table contents; ``manifest.json`` records each table's row count and
content digest plus the invariants the output checks need (expected era
count sums, persons with facts).

- ``cdm_etl``: an OMOP-shaped site load (person, visits, conditions,
  drugs, measurements, fact_relationship, concept, concept_ancestor),
  generated here.
- ``incremental_ingest``: time-ordered clinical interval-event files
  for the era stream, and a ``scripts/scale_probe.gen_documents``
  corpus (20% near copies, over a seeded synthetic vocabulary) split
  into an index base, append generations and a new batch for the
  span-index lifecycle.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import sys
from unittest import mock

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Sizes.  Mean facts per person: 8 visits, 12 conditions, 12 drug
# exposures, 30 measurements, 4 fact links.  No measured per-person
# distribution is at hand, so history depth is bounded rather than
# skewed: visits per person are uniform on 1..15, and facts attach to
# uniformly drawn visits, so the busiest person holds about 2.5 times
# the median person's facts, 0.12% of all (the manifest's ``shape``
# records what was generated).
# The absolute sizes are small because fixed per-job costs dominate at
# any size here: one warm pass takes 9-17 s on a 4-core machine, and a
# run (session start, cold pass, warm pass) about a minute.
PERSONS = 2_000
PER_PERSON = {"visit": 8, "condition": 12, "drug": 12, "measurement": 30, "fact": 4}
N_CONDITION_CONCEPTS = 300
N_INGREDIENTS = 60
N_CLINICAL_DRUGS = 240
N_MEASUREMENT_CONCEPTS = 200
SPAN_DOCS = 2_000
SPAN_GENERATIONS = 2
STREAM_PERSONS = 300
STREAM_EVENTS_PER_PERSON = 15
STREAM_DAYS = 60
STREAM_FILES = 2

EPOCH_DAY = np.datetime64("2015-01-01", "D")


def _ids(start: int, n: int) -> np.ndarray:
    return np.arange(start, start + n, dtype=np.int64)


def _dates(days: np.ndarray) -> pa.Array:
    return pa.array((EPOCH_DAY + days.astype("timedelta64[D]")), pa.date32())


def _datetimes(days: np.ndarray, secs: np.ndarray) -> pa.Array:
    ts = (EPOCH_DAY + days.astype("timedelta64[D]")).astype("datetime64[s]") + secs.astype(
        "timedelta64[s]"
    )
    return pa.array(ts.astype("datetime64[us]"), pa.timestamp("us", tz="UTC"))


def _nullable(values: np.ndarray, null_mask: np.ndarray, typ: pa.DataType) -> pa.Array:
    return pa.array(values, typ, mask=null_mask)


def _concepts() -> tuple[pa.Table, pa.Table, dict[str, np.ndarray]]:
    """The concept dimension and RxNorm drug → ingredient closure."""
    rows: list[tuple[int, str, str, str]] = [
        (8507, "MALE", "Gender", "Gender"),
        (8532, "FEMALE", "Gender", "Gender"),
        (8527, "White", "Race", "Race"),
        (8516, "Black", "Race", "Race"),
        (38003563, "Hispanic", "Ethnicity", "Ethnicity"),
        (38003564, "Not Hispanic", "Ethnicity", "Ethnicity"),
        (9201, "Inpatient Visit", "Visit", "Visit"),
        (9202, "Outpatient Visit", "Visit", "Visit"),
        (9203, "Emergency Room Visit", "Visit", "Visit"),
        (38000177, "Prescription written", "Drug Type", "Drug Type"),
        (44818701, "From physical examination", "Meas Type", "Meas Type"),
        (8554, "percent", "UCUM", "Unit"),
        (44818790, "Has relationship", "Relationship", "Relationship"),
    ]
    pools = {
        "condition": np.arange(4_000_000, 4_000_000 + N_CONDITION_CONCEPTS, dtype=np.int32),
        "ingredient": np.arange(1_100_000, 1_100_000 + N_INGREDIENTS, dtype=np.int32),
        "drug": np.arange(1_200_000, 1_200_000 + N_CLINICAL_DRUGS, dtype=np.int32),
        "measurement": np.arange(3_000_000, 3_000_000 + N_MEASUREMENT_CONCEPTS, dtype=np.int32),
    }
    for c in pools["condition"]:
        rows.append((int(c), f"condition {c}", "SNOMED", "Clinical Finding"))
    for c in pools["ingredient"]:
        rows.append((int(c), f"ingredient {c}", "RxNorm", "Ingredient"))
    for c in pools["drug"]:
        rows.append((int(c), f"clinical drug {c}", "RxNorm", "Clinical Drug"))
    for c in pools["measurement"]:
        rows.append((int(c), f"lab {c}", "LOINC", "Lab Test"))
    cid, name, vocab, cls = zip(*rows)
    concept = pa.table(
        {
            "concept_id": pa.array(cid, pa.int32()),
            "concept_name": pa.array(name, pa.string()),
            "vocabulary_id": pa.array(vocab, pa.string()),
            "concept_class_id": pa.array(cls, pa.string()),
            "standard_concept": pa.array(["S"] * len(cid), pa.string()),
        }
    )
    # every clinical drug rolls up to exactly one ingredient, plus the
    # ingredients' self rows (the OMOP closure convention)
    ingredient_of = pools["ingredient"][np.arange(N_CLINICAL_DRUGS) % N_INGREDIENTS]
    ancestor = pa.table(
        {
            "ancestor_concept_id": pa.array(
                np.concatenate([ingredient_of, pools["ingredient"]]), pa.int32()
            ),
            "descendant_concept_id": pa.array(
                np.concatenate([pools["drug"], pools["ingredient"]]), pa.int32()
            ),
        }
    )
    pools["ingredient_of_drug"] = ingredient_of
    return concept, ancestor, pools


def _distinct_rows(*cols: np.ndarray) -> int:
    return int(len(np.unique(np.stack([c.astype(np.int64) for c in cols]), axis=1)[0]))


def gen_site_load(seed: int, out: str) -> tuple[dict, dict]:
    """One site's OMOP load; returns its shape and the manifest
    invariants."""
    persons = PERSONS
    rng = np.random.default_rng(seed)
    concept, ancestor, pools = _concepts()
    n = {k: persons * v for k, v in PER_PERSON.items()}
    person_id = _ids(1, persons)
    birth_day = rng.integers(-15 * 365, -365, persons)
    visits_per_person = rng.integers(1, 2 * PER_PERSON["visit"], persons)
    n["visit"] = int(visits_per_person.sum())

    tables: dict[str, pa.Table] = {
        "person": pa.table(
            {
                "person_id": pa.array(person_id),
                "birth_datetime": _datetimes(birth_day, rng.integers(0, 86_400, persons)),
                "gender_concept_id": pa.array(rng.choice([8507, 8532], persons), pa.int32()),
                "race_concept_id": pa.array(rng.choice([8527, 8516], persons), pa.int32()),
                "ethnicity_concept_id": pa.array(
                    rng.choice([38003563, 38003564], persons), pa.int32()
                ),
            }
        ),
        "concept": concept,
        "concept_ancestor": ancestor,
    }

    v_person = np.repeat(person_id, visits_per_person)
    v_day = rng.integers(0, 5 * 365, n["visit"])
    v_len = rng.integers(0, 5, n["visit"])
    visit_id = _ids(10_000_000, n["visit"])
    tables["visit_occurrence"] = pa.table(
        {
            "visit_occurrence_id": pa.array(visit_id),
            "person_id": pa.array(v_person),
            "visit_start_date": _dates(v_day),
            "visit_start_datetime": _datetimes(v_day, rng.integers(0, 86_400, n["visit"])),
            "visit_end_date": _dates(v_day + v_len),
            "visit_end_datetime": _datetimes(v_day + v_len, np.zeros(n["visit"], np.int64)),
            "visit_concept_id": pa.array(rng.choice([9201, 9202, 9203], n["visit"]), pa.int32()),
        }
    )
    # facts attach to a visit of the same person, starting on its day
    def visits_of(k: int) -> np.ndarray:
        return rng.integers(0, n["visit"], k)

    c_visit = visits_of(n["condition"])
    c_day = v_day[c_visit] + rng.integers(0, 3, n["condition"])
    c_concept = rng.choice(pools["condition"], n["condition"])
    c_end_null = rng.random(n["condition"]) < 0.4
    tables["condition_occurrence"] = pa.table(
        {
            "condition_occurrence_id": pa.array(_ids(20_000_000, n["condition"])),
            "person_id": pa.array(v_person[c_visit]),
            "condition_concept_id": pa.array(c_concept, pa.int32()),
            "condition_start_date": _dates(c_day),
            "condition_start_datetime": _datetimes(c_day, rng.integers(0, 86_400, n["condition"])),
            "condition_end_date": _nullable(
                (EPOCH_DAY + (c_day + rng.integers(1, 60, n["condition"])).astype("timedelta64[D]")),
                c_end_null,
                pa.date32(),
            ),
            "visit_occurrence_id": pa.array(visit_id[c_visit]),
        }
    )

    d_visit = visits_of(n["drug"])
    d_day = v_day[d_visit] + rng.integers(0, 3, n["drug"])
    d_drug_idx = rng.integers(0, N_CLINICAL_DRUGS, n["drug"])
    d_end_null = rng.random(n["drug"]) < 0.5
    d_supply_null = rng.random(n["drug"]) < 0.3
    tables["drug_exposure"] = pa.table(
        {
            "drug_exposure_id": pa.array(_ids(30_000_000, n["drug"])),
            "person_id": pa.array(v_person[d_visit]),
            "drug_concept_id": pa.array(pools["drug"][d_drug_idx], pa.int32()),
            "drug_type_concept_id": pa.array(np.full(n["drug"], 38000177), pa.int32()),
            "drug_exposure_start_date": _dates(d_day),
            "drug_exposure_end_date": _nullable(
                (EPOCH_DAY + (d_day + rng.integers(1, 90, n["drug"])).astype("timedelta64[D]")),
                d_end_null,
                pa.date32(),
            ),
            "days_supply": _nullable(
                rng.integers(1, 90, n["drug"]).astype(np.int32), d_supply_null, pa.int32()
            ),
            "visit_occurrence_id": pa.array(visit_id[d_visit]),
            "dose_unit_concept_id": pa.array(np.full(n["drug"], 8554), pa.int32()),
            "effective_drug_dose": pa.array(np.round(rng.random(n["drug"]) * 100, 3)),
        }
    )

    m_visit = visits_of(n["measurement"])
    m_day = v_day[m_visit]
    m_concept = rng.choice(pools["measurement"], n["measurement"])
    tables["measurement"] = pa.table(
        {
            "measurement_id": pa.array(_ids(40_000_000, n["measurement"])),
            "person_id": pa.array(v_person[m_visit]),
            "measurement_concept_id": pa.array(m_concept, pa.int32()),
            "measurement_date": _dates(m_day),
            "measurement_datetime": _datetimes(m_day, rng.integers(0, 86_400, n["measurement"])),
            "measurement_type_concept_id": pa.array(
                np.full(n["measurement"], 44818701), pa.int32()
            ),
            "value_as_number": pa.array(np.round(rng.normal(50, 15, n["measurement"]), 2)),
            "unit_concept_id": pa.array(np.full(n["measurement"], 8554), pa.int32()),
            "visit_occurrence_id": pa.array(visit_id[m_visit]),
            "measurement_source_value": pa.array(
                np.char.add("src-", m_concept.astype("U8")), pa.string()
            ),
        }
    )

    # polymorphic links: (domain code, id range) per side; ~2% dangle
    domains = [
        (8, tables["visit_occurrence"]["visit_occurrence_id"]),
        (19, tables["condition_occurrence"]["condition_occurrence_id"]),
        (13, tables["drug_exposure"]["drug_exposure_id"]),
        (21, tables["measurement"]["measurement_id"]),
    ]
    k = n["fact"]
    side = {}
    for s in (1, 2):
        dom_idx = rng.integers(0, len(domains), k)
        codes = np.array([d[0] for d in domains], np.int32)[dom_idx]
        ids = np.empty(k, np.int64)
        for j, (_, col) in enumerate(domains):
            sel = dom_idx == j
            arr = col.to_numpy()
            ids[sel] = arr[rng.integers(0, len(arr), int(sel.sum()))]
        dangle = rng.random(k) < 0.02
        ids[dangle] += 5_000_000
        side[s] = (codes, ids)
    tables["fact_relationship"] = pa.table(
        {
            "domain_concept_id_1": pa.array(side[1][0]),
            "fact_id_1": pa.array(side[1][1]),
            "domain_concept_id_2": pa.array(side[2][0]),
            "fact_id_2": pa.array(side[2][1]),
            "relationship_concept_id": pa.array(np.full(k, 44818790), pa.int32()),
        }
    )
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out, f"{name}.parquet"))

    c_person = tables["condition_occurrence"]["person_id"].to_numpy()
    d_person = tables["drug_exposure"]["person_id"].to_numpy()
    m_person = tables["measurement"]["person_id"].to_numpy()
    all_facts = np.concatenate([c_person, d_person, m_person])
    fact_persons = np.unique(np.concatenate([c_person, d_person]))
    shape = {
        "visits_per_person": {
            "min": int(visits_per_person.min()),
            "median": float(np.median(visits_per_person)),
            "max": int(visits_per_person.max()),
        },
        # conditions + drugs + measurements of the busiest person
        "top_person_fact_share": float(np.bincount(all_facts).max() / len(all_facts)),
    }
    return shape, {
        # era counts are distinct start dates per (person, concept) island
        "condition_era_count_sum": _distinct_rows(c_person, c_concept, c_day),
        "drug_era_count_sum": _distinct_rows(
            d_person, pools["ingredient_of_drug"][d_drug_idx], d_day
        ),
        # observation periods derive from the condition and drug tables
        "persons_with_facts": int(len(fact_persons)),
    }


def _vocabulary_profile(seed: int) -> tuple[list[str], np.ndarray, int, int]:
    """Stand-in for ``scale_probe._corpus_profile``: a Zipf-weighted
    synthetic vocabulary, so the corpus generator needs no external
    corpus."""
    rng = np.random.default_rng(seed + 1)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = sorted({"".join(rng.choice(letters, rng.integers(2, 9))) for _ in range(6000)})
    probs = 1.0 / np.arange(1, len(words) + 1) ** 1.05
    rng.shuffle(probs)
    return words, probs / probs.sum(), 40, 160


def gen_corpus(seed: int, path: str, n: int) -> None:
    sys.path.insert(0, os.path.join(ROOT, "scripts"))
    import scale_probe

    with mock.patch.object(scale_probe, "_corpus_profile", lambda: _vocabulary_profile(seed)):
        scale_probe.gen_documents(n, seed, path)


def _ordered_mtimes(d: str) -> None:
    """File streams drain oldest mtime first: pin the name order."""
    for i, f in enumerate(sorted(os.listdir(d))):
        t = 1_700_000_000 + 100 * i
        os.utime(os.path.join(d, f), (t, t))


def gen_event_stream(seed: int, out: str) -> None:
    """Interval events (drug exposures with a days supply, say) in
    ``STREAM_FILES`` files, each covering the next slice of days, so a
    file stream replays them in event-time order."""
    rng = np.random.default_rng(seed + 2)
    n = STREAM_PERSONS * STREAM_EVENTS_PER_PERSON
    person = rng.integers(1, STREAM_PERSONS + 1, n)
    day = rng.integers(0, STREAM_DAYS, n)
    start = (EPOCH_DAY + day.astype("timedelta64[D]")).astype("datetime64[s]") + rng.integers(
        0, 86_400, n
    ).astype("timedelta64[s]")
    end = start + rng.integers(1, 6, n).astype("timedelta64[D]")
    os.makedirs(out)
    per_file = STREAM_DAYS // STREAM_FILES
    for f in range(STREAM_FILES):
        sel = np.flatnonzero(day // per_file == f)
        sel = sel[np.argsort(start[sel], kind="stable")]
        pq.write_table(
            pa.table({
                "person_id": pa.array(person[sel].astype(np.int64)),
                "start_ts": pa.array(start[sel].astype("datetime64[us]"), pa.timestamp("us")),
                "end_ts": pa.array(end[sel].astype("datetime64[us]"), pa.timestamp("us")),
            }),
            os.path.join(out, f"events_{f}.parquet"),
        )
    _ordered_mtimes(out)


def gen_ingest(seed: int, out: str) -> tuple[dict, dict]:
    gen_event_stream(seed, os.path.join(out, "events"))
    corpus = os.path.join(out, "span_corpus.parquet")
    gen_corpus(seed, corpus, SPAN_DOCS)
    docs = pq.read_table(corpus, columns=["doc_id", "text"])
    cut = SPAN_DOCS // 2
    gen_size = SPAN_DOCS // 10
    pq.write_table(docs.slice(0, cut), os.path.join(out, "span_base.parquet"))
    gens = os.path.join(out, "span_gens")
    os.makedirs(gens)
    for g in range(SPAN_GENERATIONS):
        pq.write_table(
            docs.slice(cut + g * gen_size, gen_size), os.path.join(gens, f"gen_{g}.parquet")
        )
    _ordered_mtimes(gens)
    start_new = cut + SPAN_GENERATIONS * gen_size
    pq.write_table(docs.slice(start_new), os.path.join(out, "span_new.parquet"))
    os.remove(corpus)
    return {}, {"span_generations": SPAN_GENERATIONS}


def table_digest(path: str) -> str:
    """Content digest of a parquet file or directory of files."""
    files = (
        [os.path.join(path, f) for f in sorted(os.listdir(path))]
        if os.path.isdir(path)
        else [path]
    )
    h = hashlib.sha256()
    for f in files:
        tbl = pq.read_table(f)
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, tbl.schema) as w:
            w.write_table(tbl)
        h.update(sink.getvalue().to_pybytes())
    return h.hexdigest()[:16]


def _row_count(path: str) -> int:
    if os.path.isdir(path):
        return sum(_row_count(os.path.join(path, f)) for f in os.listdir(path))
    return pq.ParquetFile(path).metadata.num_rows


def generate(workload: str, seed: int, out: str) -> dict:
    """Write the workload's inputs under ``out`` and return its manifest."""
    os.makedirs(out)
    if workload == "cdm_etl":
        shape, expect = gen_site_load(seed, out)
    elif workload == "incremental_ingest":
        shape, expect = gen_ingest(seed, out)
    else:
        raise ValueError(f"unknown workload {workload!r}")
    names = sorted(f for f in os.listdir(out) if not f.startswith("."))
    return {
        "workload": workload,
        "seed": seed,
        "rows": {f.removesuffix(".parquet"): _row_count(os.path.join(out, f)) for f in names},
        "digests": {f.removesuffix(".parquet"): table_digest(os.path.join(out, f)) for f in names},
        "shape": shape,
        "expect": expect,
    }


def ensure_inputs(workload: str, seed: int, out: str) -> dict:
    """Generate once per ``out``; later calls read the cache.  ``run.py``
    names ``out`` by workload, seed and a hash of the generator's
    source, so a changed generator never reuses old inputs."""
    manifest = os.path.join(out, "manifest.json")
    if not os.path.exists(manifest):
        shutil.rmtree(out, ignore_errors=True)
        tmp = f"{out}.tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        m = generate(workload, seed, tmp)
        with open(os.path.join(tmp, "manifest.json"), "w") as f:
            json.dump(m, f, indent=1, sort_keys=True)
        os.rename(tmp, out)
    with open(manifest) as f:
        return json.load(f)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    ensure_inputs(a.workload, a.seed, a.out)


if __name__ == "__main__":
    main()
