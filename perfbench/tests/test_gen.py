import csv
import io

from perfbench.gen import EMPTY_DAY, PetsFeed, normalize_key

SEED_KEYS = {normalize_key(v) for v in ("GOLDEN RETRIEVER", "golden retr.", "TABBY", "POODLE")}


def feed(seed, days=6):
    f = PetsFeed(seed, 300, SEED_KEYS)
    return f, [f.drop(i) for i in range(days)]


def test_same_seed_same_bytes():
    _, a = feed(7)
    _, b = feed(7)
    assert a == b
    _, c = feed(8)
    assert [d.csv for d in a] != [d.csv for d in c]


def test_first_date_has_its_own_size():
    f = PetsFeed(4, 50, SEED_KEYS, first_rows=400)
    sizes = [len(f.drop(i).csv.decode().splitlines()) - 1 for i in (0, 2, 3)]
    assert sizes == [400, 50, 50]
    assert f.drop(2).new_rows == 40  # 20% of the 50 re-sent


def test_drops_carry_the_fixture_edges():
    _, drops = feed(1)
    assert drops[EMPTY_DAY].csv is None and drops[EMPTY_DAY].new_rows == 0
    seen = set()
    for d in drops:
        if d.csv is None:
            continue
        rows = list(csv.DictReader(io.StringIO(d.csv.decode())))
        ids = [int(r["_id"]) for r in rows]
        assert len(ids) == len(set(ids)) == 300  # unique within a file
        resent = [i for i in ids if i in seen]
        assert len(resent) == (0 if not seen else 60)  # 20% re-sent
        assert d.new_rows == 300 - len(resent)
        seen.update(ids)
    text = b"".join(d.csv for d in drops if d.csv).decode()
    for edge in ('"dog "', '" Cat"', ",,", "XYZ1"):
        assert edge in text


def test_expectations_match_an_independent_reading_of_the_csv():
    f, drops = feed(5, days=8)
    keys = set(SEED_KEYS)
    bronze, rows = set(), {}
    for d in drops:
        if d.csv is not None:
            for r in csv.DictReader(io.StringIO(d.csv.decode())):
                _id = int(r["_id"])
                if _id in bronze:  # re-sent: Bronze's anti-join drops it
                    continue
                bronze.add(_id)
                if r["PRIMARY_BREED"]:  # Silver drops rows without a breed
                    rows[_id] = (int(r["Year"]) if r["Year"] else None,
                                 r["ANIMAL_TYPE"].strip().upper(),
                                 normalize_key(r["PRIMARY_BREED"]) in keys)
        keys.update(k for k, _ in d.mapping_batch)
    assert rows == f.silver
    totals = {}
    for year, animal, _ in rows.values():
        if year is not None:
            totals[(year, animal)] = totals.get((year, animal), 0) + 1
    assert totals == f.expected_totals()
    mapped = sum(m for _, _, m in rows.values())
    assert f.expected_silver_health() == {
        "row_cnt": len(rows), "distinct_ids": len(rows),
        "mapped_cnt": mapped, "unmapped_cnt": len(rows) - mapped}
    assert 0 < mapped < len(rows)
    assert sum(d.silver_rows for d in drops) == len(rows)


def test_mapping_batches_insert_then_update():
    _, drops = feed(2)
    assert drops[0].batch_inserts == len(drops[0].mapping_batch)
    later = drops[3]
    assert 0 < later.batch_inserts < len(later.mapping_batch)
