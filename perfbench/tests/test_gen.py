import itertools
import json

import gen
from promhouse_spark.edge import chunkenc, prompb, snappy_codec
from promhouse_spark.models import Label


def decode_write(body):
    return prompb.decode_write_request(snappy_codec.decompress(body))


def test_same_seed_same_requests():
    assert gen.ingest_request(5, 3) == gen.ingest_request(5, 3)
    assert gen.ingest_request(5, 3) != gen.ingest_request(6, 3)
    assert gen.backfill_request(5) == gen.backfill_request(5)
    a = [op.body for cyc in itertools.islice(gen.query_cycles(5), 4) for op in cyc]
    b = [op.body for cyc in itertools.islice(gen.query_cycles(5), 4) for op in cyc]
    c = [op.body for cyc in itertools.islice(gen.query_cycles(6), 4) for op in cyc]
    assert a == b and a != c


def test_ingest_request_shape():
    prev = {tuple(ts.labels) for ts in decode_write(gen.ingest_request(2, 0))}
    series = decode_write(gen.ingest_request(2, 1))
    assert len(series) == gen.SERIES_PER_WRITE
    assert all(len(ts.samples) == 1 for ts in series)
    new = [ts for ts in series if tuple(ts.labels) not in prev]
    assert len(new) == gen.NEW_PER_WRITE
    totals = gen.ingest_totals(2, [0, 1])
    assert totals.samples == 4000 and totals.series == 2200


def test_query_cycles_interleave_three_shapes():
    shapes = [op.shape for cyc in itertools.islice(gen.query_cycles(1), 3) for op in cyc]
    assert shapes == ["read", "range", "binop"] * 3


def test_backfill_holds_every_query_series():
    series = decode_write(gen.backfill_request(1))
    assert len(series) == gen.QUERY_METRICS * gen.QUERY_JOBS * gen.QUERY_INSTANCES
    assert all(len(ts.samples) == len(gen.query_points(1)) for ts in series)


def _read_response(expect):
    frames = b""
    for key, pts in expect.items():
        labels = [Label(n, v) for n, v in key]
        chunk = chunkenc.encode_xor_chunk(pts)
        msg = prompb.encode_chunked_read_response(
            [(labels, [(pts[0][0], pts[-1][0], chunkenc.CHUNK_TYPE_XOR, chunk)])]
        )
        frames += chunkenc.frame_message(msg)
    return frames


def test_check_answer_read():
    read, _, _ = next(gen.query_cycles(3))
    (expect,) = read.expect
    assert gen.check_answer(read, _read_response(expect)) is None
    short = {k: v[:-1] for k, v in expect.items()}
    assert "wrong or missing" in gen.check_answer(read, _read_response(short))


def test_check_answer_matrix():
    _, rng, binop = next(gen.query_cycles(3))
    for op in (rng, binop):
        steps, expect = op.expect
        result = [
            {"metric": {"job": job}, "values": [[i, str(v)] for i in range(steps)]}
            for job, v in expect.items()
        ]
        body = json.dumps({"status": "success", "data": {"result": result}}).encode()
        assert gen.check_answer(op, body) is None
        result[0]["values"][3][1] = "0"
        body = json.dumps({"status": "success", "data": {"result": result}}).encode()
        assert gen.check_answer(op, body) is not None
