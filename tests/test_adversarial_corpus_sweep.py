"""Adversarial-corpus oracle sweep: replay every oracle-bearing registry
entry that reads the dirty tables (documents / events / embeddings) on a
fixture with hostile rows APPENDED to the clean sf0.001 data, and demand
Spark-vs-DuckDB parity on every one.

The clean generators emit no NULL text, no NaN readings, no tied
timestamps and no zero vectors, so every divergence in those regions is
latent until a real corpus hits it (round-10 found nine such bugs by
hand in queries.py/queries_ext.py alone). This sweep makes the whole
class regression-tested mechanically instead of entry by entry.

Deliberate exclusions, as engine schema contracts (documented here so
the sweep's coverage claim is honest):
- events.ts stays NON-NULL: event-time is the watermark column; both
  Structured Streaming and the reference's cycle ordering require it.
- TPC-H tables stay clean: the spec declares their columns NOT NULL.
- embeddings keep a uniform dimension (64): dimension validation is an
  ingest concern; mixed-dim behavior is pinned by unit tests instead.
"""

from __future__ import annotations

import re
import shutil

import numpy as np
import pandas as pd
import pytest

from tests.conftest import SF_DIR
from tests.oracle_harness import TABLES, compare, duck_connection
from turbine_maintenance_etl_spark.queries import load_registry

REGISTRY = load_registry()

_DIRTY = re.compile(r"\b(documents|events|embeddings)\b")
CANDIDATES = sorted(
    n for n, q in REGISTRY.items() if q.oracle and _DIRTY.search(q.oracle)
)


def _adversarial_documents(base: pd.DataFrame) -> pd.DataFrame:
    rows = [
        # (doc_id, text, lang, source) — n_chars derived below
        (900001, None, "en", "srcX"),            # NULL text
        (900002, "", "en", "srcX"),              # empty text
        (900003, "   \n\t  ", None, "srcX"),     # whitespace-only, NULL lang
        (900004, "spark", "en", None),           # single token, NULL source
        (900005, "naïve café 東京 \U0001f680 データ test", "zh", "srcX"),
        (900006, r"a+b (c) [d] {2} $x ^y .* \ | ? end", "en", "srcX"),
        (900007, base.loc[0, "text"], "en", "srcX"),        # exact cross-dup
        (900008, base.loc[1, "text"].rsplit(" ", 1)[0] + " zzz", "en", "srcX"),
        (900009, "spam ham " * 60, "en", "srcX"),           # repeated segments
        (900010, "reach me at a.b@example.com or 555-0100 ok", "en", "srcX"),
    ]
    adv = pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source"])
    adv["n_chars"] = adv["text"].str.len().astype("Int64")
    return pd.concat([base, adv], ignore_index=True)


def _adversarial_events(base: pd.DataFrame) -> pd.DataFrame:
    t0 = pd.Timestamp("2024-01-15 12:00:00")
    rows = [
        # event_id, ts, user_id, event_type, value, props
        (900001, t0, 1, "purchase", np.nan, '{"k": 1}'),     # NaN reading
        (900002, t0 + pd.Timedelta("1min"), 1, "click", None, '{"k": 2}'),
        (900003, t0 + pd.Timedelta("2min"), 2, None, 10.0, '{"k": 3}'),
        (900004, t0 + pd.Timedelta("3min"), 2, "view", 11.0, None),
        (900005, t0 + pd.Timedelta("4min"), 3, "view", 12.0, '{"k": 5'),
        (900006, t0 + pd.Timedelta("5min"), 3, "view", 13.0, '{"a": {"k": 7}}'),
        (900007, t0 + pd.Timedelta("6min"), 4, "view", 14.0, '{"k": "abc"}'),
        # tied purchases at one (user, ts)
        (900008, t0 + pd.Timedelta("7min"), 5, "purchase", 10.0, '{"k": 8}'),
        (900009, t0 + pd.Timedelta("7min"), 5, "purchase", 99.0, '{"k": 9}'),
        # whole-second and .999999 boundary timestamps
        (900010, pd.Timestamp("2024-01-15 13:00:00"), 6, "view", 50.0, '{"k": 10}'),
        (900011, pd.Timestamp("2024-01-15 13:59:59.999999"), 6, "view", -5.25, '{"k": 11}'),
        # r10 review regressions: a UBIGINT that overflows int64 (Spark
        # from_json -> NULL, a plain oracle CAST raised), a duplicated
        # key (json.loads keeps the LAST value), a key containing a
        # double-quote (path concatenation built malformed JSON paths),
        # and valid-but-non-object JSON (the UDTF emits no rows)
        (900012, t0 + pd.Timedelta("8min"), 7, "view", 15.0,
         '{"k": 18446744073709551615}'),
        (900013, t0 + pd.Timedelta("9min"), 7, "view", 16.0, '{"k": 1, "k": 2}'),
        (900014, t0 + pd.Timedelta("10min"), 8, "view", 17.0, '{"a\\"b": 5}'),
        (900015, t0 + pd.Timedelta("11min"), 8, "view", 18.0, "[1, 2]"),
        (900016, t0 + pd.Timedelta("12min"), 9, "view", 19.0, "7"),
        # a user whose EVERY event has NULL event_type: the filtered
        # DISTINCT-list aggregate sees zero rows (NULL) while
        # collect_set yields [] -> ''/0
        (900017, t0 + pd.Timedelta("13min"), 20, None, 20.0, '{"k": 17}'),
        (900018, t0 + pd.Timedelta("14min"), 20, None, 21.0, '{"k": 18}'),
    ]
    adv = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    adv["ts"] = adv["ts"].astype("datetime64[us]")
    return pd.concat([base, adv], ignore_index=True)


def _write_events_with_true_nan(df: pd.DataFrame, path) -> None:
    """pandas.to_parquet silently converts float NaN to parquet NULL
    (validity-masked), so a NaN reading written that way tests nothing —
    round 10's earlier 'NaN parity' fixtures all actually injected
    NULLs. Build the value column through pyarrow with
    ``from_pandas=False`` so the NaN row 900001 stays a REAL NaN double
    and the NULL row 900002 stays a real NULL."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = {}
    for c in df.columns:
        if c == "value":
            vals = [None if v is None else float(v) for v in df[c].tolist()]
            # df round-trips NULL as NaN; restore genuine NULL only for
            # the designated NULL row, keep every other NaN a true NaN
            vals = [
                None if (pd.isna(v) and int(df["event_id"].iloc[i]) == 900002) else v
                for i, v in enumerate(vals)
            ]
            cols[c] = pa.array(vals, type=pa.float64(), from_pandas=False)
        else:
            cols[c] = pa.Array.from_pandas(df[c])
    pq.write_table(pa.table(cols), path)


def _adversarial_embeddings(base: pd.DataFrame) -> pd.DataFrame:
    dim = len(base.loc[0, "embedding"])
    nan_vec = np.ones(dim, dtype=np.float32)
    nan_vec[3] = np.nan  # corrupt element: norm NaN, cosine NaN to all
    rows = [
        (900001, np.zeros(dim, dtype=np.float32), 0),        # zero vector
        (900002, np.asarray(base.loc[0, "embedding"], dtype=np.float32), 1),  # dup: cosine tie
        (900003, None, 2),                                   # NULL embedding
        (900004, nan_vec, 3),                                # NaN-element vector
        (900005, [None] + [1.0] * (dim - 1), 4),             # NULL-element vector
    ]
    adv = pd.DataFrame(rows, columns=["vec_id", "embedding", "label"])
    adv["label"] = adv["label"].astype("int32")
    return pd.concat([base, adv], ignore_index=True)


def _write_embeddings_with_true_nan(df: pd.DataFrame, path) -> None:
    """Like ``_write_events_with_true_nan`` but for the nested list
    column: the NaN ELEMENT of vector 900004 must stay a real NaN float
    (pandas' conversion would store it as a NULL element), while the
    explicit None element of 900005 must stay a genuine NULL."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    vecs = []
    for vec_id, v in zip(df["vec_id"], df["embedding"]):
        if v is None:
            vecs.append(None)
        elif int(vec_id) == 900005:
            vecs.append([None if e is None else float(e) for e in v])
        else:
            vecs.append([float(e) for e in v])
    cols = {
        "vec_id": pa.Array.from_pandas(df["vec_id"]),
        "embedding": pa.array(vecs, type=pa.list_(pa.float32()), from_pandas=False),
        "label": pa.Array.from_pandas(df["label"]),
    }
    pq.write_table(pa.table(cols), path)


@pytest.fixture(scope="module")
def adv_dir(tmp_path_factory):
    root = tmp_path_factory.mktemp("adv_corpus")
    for t in TABLES:
        shutil.copy(f"{SF_DIR}/{t}.parquet", root / f"{t}.parquet")
    for t, fn in (
        ("documents", _adversarial_documents),
        ("events", _adversarial_events),
        ("embeddings", _adversarial_embeddings),
    ):
        base = pd.read_parquet(root / f"{t}.parquet")
        out = fn(base)
        if t == "events":
            _write_events_with_true_nan(out, root / f"{t}.parquet")
        elif t == "embeddings":
            _write_embeddings_with_true_nan(out, root / f"{t}.parquet")
        else:
            out.to_parquet(root / f"{t}.parquet", index=False)
    return str(root)


@pytest.fixture(scope="module")
def adv_duck(adv_dir):
    con = duck_connection(adv_dir)
    yield con
    con.close()


_NULL_SENTINEL = -1.2345678987654321e300


def _pdf_with_null_nan_distinction(arrow_table) -> pd.DataFrame:
    """Arrow -> pandas with float SQL NULLs replaced by a sentinel.

    pandas folds SQL NULL and a real NaN into the same float NaN, so a
    plain toPandas()-based compare would PASS an entry whose engine
    returns NULL where its oracle returns NaN (or vice versa) — a
    difference an exact value-hash comparison rejects. Arrow keeps the
    validity mask, so filling NULL (and only NULL) with an impossible
    sentinel makes the two states distinct through the pandas compare."""
    import pyarrow as pa
    import pyarrow.compute as pc

    cols = {}
    for field, col in zip(arrow_table.schema, arrow_table.columns):
        if pa.types.is_floating(field.type) and col.null_count:
            # widen to float64 first: fill_null on a float32 column
            # silently overflows the sentinel to -inf (r10 review)
            col = pc.fill_null(col.cast(pa.float64()), _NULL_SENTINEL)
        cols[field.name] = col
    return pa.table(cols).to_pandas()


@pytest.mark.parametrize("name", CANDIDATES)
def test_entry_survives_adversarial_corpus(spark, adv_dir, adv_duck, name):
    q = REGISTRY[name]
    spark_pdf = _pdf_with_null_nan_distinction(q.fn(spark, adv_dir).toArrow())
    duck_pdf = _pdf_with_null_nan_distinction(adv_duck.execute(q.oracle).arrow())
    problems = compare(spark_pdf, duck_pdf, name)
    assert not problems, "\n".join(problems)
