"""AMQP 1.0 / GetAzureEventHub analog (sources/amqp10.py): type-codec
roundtrips, SASL PLAIN outcomes, link credit + drain batch
boundaries, offset-resume selector filters, disposition settlement,
and the spool bridge. Pure protocol tests except the spool read."""

from __future__ import annotations

import pytest

from nifi_spark.sources.amqp10 import (Amqp10Error, Described,
                                       EventHubBroker,
                                       EventHubReceiver,
                                       GetEventHubSource, Symbol,
                                       UInt, ULong, decode_message,
                                       decode_value, encode_message,
                                       encode_value,
                                       eventhub_loopback)


def test_type_codec_roundtrips():
    vals = [None, True, False, 0, -5, 127, -128, 300, -(2 ** 35), 1.5,
            "héllo", "", "x" * 300, b"\x00\xff", b"y" * 300,
            Symbol("sym"), UInt(0), UInt(7), UInt(70000), ULong(0),
            ULong(9), ULong(2 ** 40), [1, "a", [2, 3]], [], {},
            {Symbol("k"): "v", "n": 4},
            Described(ULong(0x75), b"body"),
            Described(Symbol("desc"), [UInt(1), None])]
    for v in vals:
        enc = encode_value(v)
        dec, pos = decode_value(enc)
        assert pos == len(enc) and dec == v, (v, dec)


def test_message_sections_roundtrip():
    msg = encode_message(b"payload",
                         annotations={"x-opt-offset": "64",
                                      "x-opt-sequence-number": 1},
                         app_properties={"k": 3})
    out = decode_message(msg)
    assert out["body"] == b"payload"
    assert out["annotations"]["x-opt-offset"] == "64"
    assert out["app_properties"] == {"k": 3}


@pytest.fixture()
def hub():
    broker = EventHubBroker("hub1", 3, users={"nifi": "pw"})
    for pid in range(3):
        for i in range(40 + pid * 10):
            broker.append(pid, f"p{pid} msg {i}".encode(),
                          {"k": i % 4},
                          enqueued_ms=1_700_000_000_000 + i)
    r, w, join = eventhub_loopback(broker)
    recv = EventHubReceiver(r, w, hub="hub1", user="nifi",
                            password="pw")
    yield broker, recv
    try:
        recv.close()
    except Amqp10Error:
        pass
    join()


def test_receive_batches_and_drain_boundary(hub):
    _broker, recv = hub
    batch = recv.receive(0, 15)
    assert len(batch) == 15
    assert batch[0]["offset"] == 0 and batch[14]["sequence"] == 14
    # second batch resumes at the link cursor
    batch2 = recv.receive(0, 50)
    assert len(batch2) == 25 and batch2[0]["sequence"] == 15
    # drained partition yields an empty batch (drain echo, no hang)
    assert recv.receive(0, 10) == []


def test_annotations_carry_eventhub_surface(hub):
    _broker, recv = hub
    got = recv.receive(2, 5)
    assert [m["offset"] for m in got] == [0, 64, 128, 192, 256]
    assert [m["enqueued_ms"] for m in got] == \
        [1_700_000_000_000 + i for i in range(5)]
    assert got[3]["app_properties"] == {"k": 3}


def test_sasl_wrong_password_rejected():
    broker = EventHubBroker("hub1", 1, users={"nifi": "pw"})
    r, w, join = eventhub_loopback(broker)
    with pytest.raises(Amqp10Error, match="rejected"):
        EventHubReceiver(r, w, hub="hub1", user="nifi",
                         password="BAD")
    with pytest.raises(Amqp10Error, match="sasl"):
        join()


def test_offset_resume_filter():
    broker = EventHubBroker("hub1", 1, users={"u": "p"})
    for i in range(20):
        broker.append(0, b"x", enqueued_ms=i)
    r, w, join = eventhub_loopback(broker)
    recv = EventHubReceiver(r, w, hub="hub1", user="u", password="p")
    resumed = recv.receive(0, 100, offset=64 * 9)
    assert [m["sequence"] for m in resumed] == list(range(10, 20))
    recv.close()
    join()


def test_spool_drain_loops_until_empty(hub, tmp_path, spark):
    broker, recv = hub
    src = GetEventHubSource(str(tmp_path / "spool"))
    n = src.drain(recv, [0, 1, 2], batch_size=13)
    assert n == 40 + 50 + 60
    df = src.read(spark)
    assert df.count() == 150
    got = {r["eventhub_partition"]: r["n"]
           for r in df.groupBy("eventhub_partition").count()
           .withColumnRenamed("count", "n").collect()}
    assert got == {"0": 40, "1": 50, "2": 60}


# --------------------------------------------- PutAzureEventHub half


def test_put_eventhub_roundrobin_and_pinned():
    from nifi_spark.sources.amqp10 import EventHubClient, put_eventhub
    broker = EventHubBroker("hub1", 3, users={"u": "p"})
    r, w, join = eventhub_loopback(broker)
    c = EventHubClient(r, w, hub="hub1", user="u", password="p")
    put_eventhub(c, [(f"msg {i}".encode(), {"n": i})
                     for i in range(9)])          # round-robin
    put_eventhub(c, [(b"pinned", {})], partition=1)
    assert [len(p) for p in broker.partitions] == [3, 4, 3]
    assert broker.transfers_received == 10
    # full circle: read back through the receiver half
    got = c.receive(1, 100)
    assert got[-1]["body"] == b"pinned"
    assert got[0]["app_properties"] == {"n": 1}
    # enqueued clock is monotone within the partition
    times = [m["enqueued_ms"] for m in got]
    assert times == sorted(times)
    c.close()
    join()


def test_multiframe_transfer_broker_to_client():
    """A 1 KiB body with a 100-byte frame cap arrives reassembled —
    every frame shares the delivery-id, all but the last set more."""
    broker = EventHubBroker("hub1", 1, users={"u": "p"},
                            max_frame_payload=100)
    big = bytes(range(256)) * 4
    broker.append(0, big, {"sz": "big"}, enqueued_ms=1)
    broker.append(0, b"small", {}, enqueued_ms=2)
    r, w, join = eventhub_loopback(broker)
    recv = EventHubReceiver(r, w, hub="hub1", user="u", password="p")
    msgs = recv.receive(0, 10)
    assert [m["body"] for m in msgs] == [big, b"small"]
    assert msgs[0]["app_properties"] == {"sz": "big"}
    recv.close()
    join()


def test_multiframe_transfer_client_to_broker():
    """Client-side splitting: a send() over max_frame_payload chunks
    into more=true continuations the broker reassembles."""
    broker = EventHubBroker("hub1", 1, users={"u": "p"})
    r, w, join = eventhub_loopback(broker)
    cli = EventHubReceiver(r, w, hub="hub1", user="u", password="p",
                           max_frame_payload=64)
    big = b"x" * 999 + b"END"
    cli.send(big, {"a": "1"}, partition=0)
    cli.send(b"tiny", partition=0)
    cli.close()
    join()
    assert broker.transfers_received == 2
    assert [e[3] for e in broker.partitions[0]] == [big, b"tiny"]
    assert broker.partitions[0][0][4] == {"a": "1"}


# ----------------------------------------------------- $cbs + txns

def test_cbs_put_token_gates_hub_links():
    """CBS-enforcing broker: hub attaches without a claim detach with
    amqp:unauthorized-access; after a valid put-token (202, correlated
    reply) the same links attach and serve."""
    broker = EventHubBroker("hub1", 2, users={"nifi": "pw"},
                            sas_tokens={"sb://hub1": "tok-abc"})
    broker.append(0, b"ev0", {}, enqueued_ms=1)
    r, w, join = eventhub_loopback(broker)
    recv = EventHubReceiver(r, w, hub="hub1", user="nifi",
                            password="pw")
    with pytest.raises(Amqp10Error, match="0x16"):   # detach, not attach
        recv.receive(0, 5)
    join2 = None
    # fresh connection: wrong token → 401
    broker2 = EventHubBroker("hub1", 2, users={"nifi": "pw"},
                             sas_tokens={"sb://hub1": "tok-abc"})
    r2, w2, join2 = eventhub_loopback(broker2)
    recv2 = EventHubReceiver(r2, w2, hub="hub1", user="nifi",
                             password="pw")
    with pytest.raises(Amqp10Error, match="401"):
        recv2.put_cbs_token("WRONG")
    # correct token on the same connection → claim granted
    recv2.put_cbs_token("tok-abc")
    broker2.append(0, b"ev0", {}, enqueued_ms=1)
    broker2.append(0, b"ev1", {}, enqueued_ms=2)
    out = recv2.receive(0, 10)
    assert [m["body"] for m in out] == [b"ev0", b"ev1"]
    recv2.close()
    join2()


def test_txn_commit_and_rollback():
    """§4.4: transactional transfers are invisible until discharge;
    fail=true discards them."""
    broker = EventHubBroker("hub1", 1, users={"u": "p"})
    r, w, join = eventhub_loopback(broker)
    recv = EventHubReceiver(r, w, hub="hub1", user="u", password="p")
    txn = recv.declare_txn()
    assert len(txn) == 8
    recv.send(b"t-a", {"n": 1}, partition=0, txn_id=txn)
    recv.send(b"t-b", {"n": 2}, partition=0, txn_id=txn)
    assert broker.partitions[0] == []       # staged, not visible
    recv.discharge_txn(txn, fail=False)
    assert [e[3] for e in broker.partitions[0]] == [b"t-a", b"t-b"]
    # second txn rolls back
    txn2 = recv.declare_txn()
    recv.send(b"t-c", {}, partition=0, txn_id=txn2)
    recv.discharge_txn(txn2, fail=True)
    assert [e[3] for e in broker.partitions[0]] == [b"t-a", b"t-b"]
    # non-transactional sends still work afterwards
    recv.send(b"plain", {}, partition=0)
    assert [e[3] for e in broker.partitions[0]] == [b"t-a", b"t-b",
                                                    b"plain"]
    out = recv.receive(0, 10)
    assert [m["body"] for m in out] == [b"t-a", b"t-b", b"plain"]
    recv.close()
    join()


def test_txn_transfer_multiframe_and_unknown_txn():
    """A transactional delivery split over several frames carries its
    state on the first frame only; discharging twice errors."""
    broker = EventHubBroker("hub1", 1, users={"u": "p"},
                            max_frame_payload=16)
    r, w, join = eventhub_loopback(broker)
    recv = EventHubReceiver(r, w, hub="hub1", user="u", password="p",
                            max_frame_payload=16)
    txn = recv.declare_txn()
    big = bytes(range(200))
    recv.send(big, {}, partition=0, txn_id=txn)
    recv.discharge_txn(txn, fail=False)
    assert broker.partitions[0][0][3] == big
    with pytest.raises(Amqp10Error):
        recv.discharge_txn(txn, fail=False)   # unknown txn-id now


def test_declare_txn_reuses_coordinator_handle_zero():
    """On a fresh client the coordinator link gets handle 0; a second
    declare must reuse it rather than attach another link."""
    broker = EventHubBroker("hub1", 1, users={"u": "p"})
    r, w, join = eventhub_loopback(broker)
    recv = EventHubReceiver(r, w, hub="hub1", user="u", password="p")
    attach, attaches = recv._attach_coordinator, []
    recv._attach_coordinator = lambda: attaches.append(1) or attach()
    recv.declare_txn()
    recv.declare_txn()
    assert recv._txn_handle == 0
    assert len(attaches) == 1
    recv.close()
    join()
