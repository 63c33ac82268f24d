from wellmeet_data_pipeline_spark.functions.enrichment import (
    embed_text,
    geocode_via_reference,
    geocode_with_cache,
)
from wellmeet_data_pipeline_spark.pipelines import (
    discover_restaurants,
    ingest_reviews,
    process_landed_restaurants,
    project_payloads,
)
from wellmeet_data_pipeline_spark.sinks.merge import read_current


def _restaurant_fetcher():
    def fetch(query: str, page: int):
        return [
            {
                "place_id": f"{hash(query) % 1000}{page}{i}",
                "name": f"식당 {query}-{page}-{i}",
                "thumbnail_url": "",
                "category": "한식",
                "page": page,
                "origin_address": "서울특별시 마포구 마포대로 109 롯데캐슬 2층",
            }
            for i in range(2)
        ]

    return fetch


def _review_fetcher():
    def fetch(place_id: str, page: int):
        return [
            {"author": "a", "content": f"review {i} of {place_id}", "visit_date": "7.25.금", "place_id": place_id}
            for i in range(3)
        ]

    return fetch


def test_discover_restaurants_incremental(spark, tmp_path):
    store = str(tmp_path / "restaurants")
    first = discover_restaurants(spark, ["공덕역 식당"], _restaurant_fetcher(), store, pages=2)
    assert first.count() == 4
    # second run: same feed → zero new rows (J1 anti join vs store)
    second = discover_restaurants(
        spark, ["공덕역 식당"], _restaurant_fetcher(), store, pages=2, batch_seq=1
    )
    assert second.count() == 0
    cur = read_current(spark, store, id_col="place_id")
    assert cur.count() == 4
    addr = cur.select("address").first()["address"]
    assert addr == "서울특별시 마포구 마포대로 109"


def test_ingest_reviews_incremental(spark, tmp_path):
    store = str(tmp_path / "reviews")
    first = ingest_reviews(spark, ["p1", "p2"], _review_fetcher(), store)
    assert first.count() == 6
    again = ingest_reviews(spark, ["p1", "p2"], _review_fetcher(), store, batch_seq=1)
    assert again.count() == 0


def test_process_landed_restaurants(spark):
    landed = spark.createDataFrame(
        [
            ("1", "r1", None, None, None, None, None, None, None),
            (None, "r2", None, None, None, None, None, None, None),  # dropped: P4
            ("3", "r3", None, None, None, "addr", "addr", 1.0, 2.0),
        ],
        "place_id string, name string, thumbnail_url string, category string, page int, "
        "origin_address string, address string, latitude double, longitude double",
    )
    existing = spark.createDataFrame([("r3", "addr")], "name string, address string")
    out = process_landed_restaurants(landed, existing)
    rows = {r["name"]: r for r in out.collect()}
    assert set(rows) == {"r1"}
    assert rows["r1"]["address"] == "" and rows["r1"]["latitude"] == 0.0  # P7 defaults


def test_project_payloads_limit(spark):
    reviews = spark.createDataFrame(
        [(f"h{i}", str(i), "c") for i in range(20)], "id string, place_id string, content string"
    )
    assert project_payloads(reviews, limit_per_event=10).count() == 10


def test_geocode_with_cache_and_reference(spark):
    df = spark.createDataFrame([("addr1",), ("addr1",), ("miss",)], "address string")

    def geo(addr):
        return (37.5, 126.9) if addr == "addr1" else None

    out = {r["address"]: (r["latitude"], r["longitude"]) for r in geocode_with_cache(df, geo).collect()}
    assert out["addr1"] == (37.5, 126.9)
    assert out["miss"] == (None, None)

    ref = spark.createDataFrame([("addr1", 37.5, 126.9)], "address string, latitude double, longitude double")
    out2 = geocode_via_reference(df, ref)
    assert out2.filter("latitude IS NOT NULL").count() == 2


def test_embed_text_deterministic_unit_norm(spark):
    df = spark.createDataFrame([("1", "hello"), ("2", "hello"), ("3", "other")], "id string, content string")
    rows = {r["id"]: r["embedding"] for r in embed_text(df, dim=16).collect()}
    assert rows["1"] == rows["2"]
    assert rows["1"] != rows["3"]
    assert abs(sum(x * x for x in rows["1"]) - 1.0) < 1e-5


def test_geocode_cache_survives_across_batches(spark, tmp_path):
    """Executor-lifetime memo: within one worker process, a distinct
    address is resolved at most ONCE across separate actions ('batches').
    The geocoder drops a (pid, address) marker file per real call; a
    per-batch memo would produce two markers for the same pid+address."""
    import os

    calls = str(tmp_path / "calls")
    os.makedirs(calls, exist_ok=True)

    def geo(addr):
        open(os.path.join(calls, f"{os.getpid()}_{addr or 'none'}_{len(os.listdir(calls))}"), "w").close()
        return (37.5, 127.0)

    df = spark.createDataFrame([("seoul",), ("seoul",)], "address string").repartition(1)
    out = geocode_with_cache(df, geo, cache_namespace="t_exec_cache")
    assert out.count() == 2  # batch 1
    assert out.count() == 2  # batch 2 (same plan, new action)

    per_pid_addr = {}
    for f in os.listdir(calls):
        pid, addr, _ = f.split("_")
        per_pid_addr[(pid, addr)] = per_pid_addr.get((pid, addr), 0) + 1
    # every worker process resolved 'seoul' at most once, across both actions
    assert all(n == 1 for n in per_pid_addr.values()), per_pid_addr
    # and with worker reuse the second action hit the warm cache entirely
    assert len(per_pid_addr) >= 1


def test_ingest_reviews_scopes_identity_per_place(spark, tmp_path):
    """Identical (author, content, visit_date) at two different places
    must BOTH survive: the reference stores {place_id}.json, so the
    sha256 id is only unique within a place.  Global dedup on the hash
    would silently drop one place's review."""
    from wellmeet_data_pipeline_spark.pipelines import ingest_reviews

    store = str(tmp_path / "rev_store_scope")

    def fetch(place_id, page):
        return [{"author": "a", "content": "same text", "visit_date": "d", "place_id": place_id}]

    fresh = ingest_reviews(spark, ["p1", "p2"], fetch, store)
    assert fresh.count() == 2  # same hash at two places: both kept

    got = read_current(spark, store, id_col=["place_id", "id"])
    assert {r["place_id"] for r in got.collect()} == {"p1", "p2"}
    ids = [r["id"] for r in got.collect()]
    assert ids[0] == ids[1]  # identical hash is expected, not a collision

    # re-ingest: per-place increment sees both as existing -> no new rows
    again = ingest_reviews(spark, ["p1", "p2"], fetch, store, batch_seq=1)
    assert again.count() == 0
    assert read_current(spark, store, id_col=["place_id", "id"]).count() == 2


def test_ingest_reviews_reads_only_the_chunks_places(spark, tmp_path):
    """The existence check reads only the ingested places' partitions, as
    the reference reads only {place_id}.json (storage_manager.py:25-61):
    a corrupt part file under another place cannot fail the ingest, while
    one under the place being ingested still does."""
    import glob

    import pytest

    store = str(tmp_path / "rev_scoped")
    ingest_reviews(spark, ["p1"], _review_fetcher(), store)
    for part in glob.glob(f"{store}/batch_commit=0/place_id=p1/*.parquet"):
        with open(part, "wb") as fh:
            fh.write(b"not a parquet file")

    fresh = ingest_reviews(spark, ["p2"], _review_fetcher(), store, batch_seq=1)
    assert fresh.count() == 3
    with pytest.raises(Exception, match="(?i)parquet"):
        ingest_reviews(spark, ["p1"], _review_fetcher(), store, batch_seq=2)


def test_ingest_reviews_reingest_finds_escaped_and_compacted_partitions(spark, tmp_path):
    """Spark percent-escapes partition directory names ('/' and '=' here);
    the scoped existence check must find the escaped directory, in the
    batch layout and in the compacted one (no batch_commit level)."""
    from wellmeet_data_pipeline_spark.sinks.merge import compact

    store = str(tmp_path / "rev_escape")
    pid = "a/b c=d"
    first = ingest_reviews(spark, [pid], _review_fetcher(), store)
    assert first.count() == 3
    again = ingest_reviews(spark, [pid], _review_fetcher(), store, batch_seq=1)
    assert again.count() == 0
    compacted = str(tmp_path / "rev_escape_compacted")
    compact(spark, store, compacted, id_col=["place_id", "id"])
    assert ingest_reviews(spark, [pid], _review_fetcher(), compacted, batch_seq=1).count() == 0


def test_scoped_review_read_matches_read_current_with_mixed_claims(spark, tmp_path):
    """A claimed store (it has a `_commits` ledger) holding an in-flight
    claim below a committed batch, and an explicit-seq batch above the
    pin: the scoped existence read and read_current expose the same rows,
    so the two readers cannot drift apart."""
    from wellmeet_data_pipeline_spark.operators.projections import project_review
    from wellmeet_data_pipeline_spark.pipelines import _stored_review_keys
    from wellmeet_data_pipeline_spark.sinks.merge import claim_batch_seq, merge_append

    store = str(tmp_path / "rev_mixed")

    def batch(content):
        rows = [("a", content, "d", pid) for pid in ("p1", "p2", "p3")]
        raw = spark.createDataFrame(rows, "author string, content string, visit_date string, place_id string")
        return project_review(raw)

    def keys(df):
        return sorted((str(r["place_id"]), r["id"]) for r in df.select("place_id", "id").collect())

    assert merge_append(batch("c0"), store, id_col="id", batch_seq=None) == 0
    assert claim_batch_seq(store) == 1  # in flight: claimed, not committed
    assert merge_append(batch("c2"), store, id_col="id", batch_seq=None) == 2
    merge_append(batch("c3"), store, id_col="id", batch_seq=1_000_000)  # explicit seq

    full = keys(read_current(spark, store, id_col=["place_id", "id"]))
    scoped = keys(_stored_review_keys(spark, store, ["p1", "p2", "p3"]))
    assert scoped == full
    assert len(full) == 3  # only seq 0 is below the pin
    assert keys(_stored_review_keys(spark, store, ["p2"])) == [k for k in full if k[0] == "p2"]


def test_fanout_modules_build_no_pickled_frames():
    """Driver-built frames on the fan-out path go through
    session.local_frame (an Arrow local relation), never
    createDataFrame(<list>), whose pickled RDD runs a Python-worker stage
    with one task per core."""
    from pathlib import Path

    import wellmeet_data_pipeline_spark as pkg

    root = Path(pkg.__file__).parent
    for rel in ("pipelines.py", "sources/ingest.py", "streaming/orchestration.py"):
        assert "createDataFrame(" not in (root / rel).read_text(), rel
