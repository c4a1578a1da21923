"""CAS lease lock provider (sinks/locks.py) — the object-store
mutual-exclusion posture. Pinned here:

- mutual exclusion: N threads hammering manifest commits through a
  CASLockProvider lose no update (the same invariant the file lock
  carries; the full two-provider race matrix lives in
  tests/test_manifest.py via the ``lock_matrix`` fixture);
- lease expiry steal is single-winner: many stealers observing the
  SAME expired lease — exactly one conditional-delete matches, and
  no two committers are ever inside the critical section at once;
- lost-then-won acks: a put_if_absent that APPLIES server-side but
  whose ack is lost (the injected at-least-once fault) converges —
  the client re-inspects, recognizes its own token, and proceeds
  instead of deadlocking on its own lease;
- an expired holder whose lease was stolen cannot release the
  thief's lease (conditional delete on the OLD value is a no-op);
- acquire times out loudly on a live (unexpired) foreign lease;
- the HOLDER's declared lease decides every steal, whatever the
  acquirer was built with, over the POSIX store and the emulation;
- the default POSIX store serializes commits from separate processes.
"""

from __future__ import annotations

import os
import threading
import time
import traceback

import pytest

import cas_contract  # tests/ is on sys.path under pytest

from fintech_etl_spark.sinks import manifest as mf
from fintech_etl_spark.sinks.locks import (
    CASLockProvider,
    CASStore,
    PosixCASStore,
)


def test_cas_store_primitives(tmp_path):
    st = CASStore(str(tmp_path / "cas"))
    assert st.get("k") is None
    assert st.put_if_absent("k", {"v": 1}) is True
    assert st.put_if_absent("k", {"v": 2}) is False  # create-exclusive
    assert st.get("k") == {"v": 1}
    assert st.delete_if_match("k", {"v": 2}) is False  # wrong expected
    assert st.get("k") == {"v": 1}
    assert st.delete_if_match("k", {"v": 1}) is True
    assert st.get("k") is None
    assert st.delete_if_match("k", {"v": 1}) is False  # already gone


def test_cas_commit_serializes_metadata_threads(tmp_path):
    """The lost-update test, CAS edition: every commit survives, the
    version counter counts every one, no segment reference is lost."""
    provider = CASLockProvider(CASStore(str(tmp_path / "cas")))
    root = str(tmp_path / "ds")
    mf.commit(root, replace={"d": []}, lock=provider)
    errors: list[str] = []

    def adder(tid):
        try:
            for i in range(8):
                seg = mf.new_segment_path(root)
                os.makedirs(seg)
                mf.commit(
                    root,
                    add={"d": [seg]},
                    file_keys=[f"t{tid}-{i}"],
                    lock=provider,
                )
        except Exception as e:  # noqa: BLE001
            errors.append(repr(e))

    threads = [threading.Thread(target=adder, args=(t,)) for t in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert not errors, errors
    cur = mf.current(root)
    assert cur["version"] == 32
    assert len(cur["datasets"]["d"]) == 32
    assert len(mf.ingested_keys(root)) == 32
    # the default POSIX store was never involved
    assert not os.path.exists(
        os.path.join(mf.manifests_dir(root), "_commit.lock")
    )


def test_cas_expired_lease_steal_is_single_winner(tmp_path):
    """N waiters all observing the SAME expired lease: delete_if_match
    admits exactly one stealer per observation, and the critical
    sections never overlap."""
    store = CASStore(str(tmp_path / "cas"))
    mdir = str(tmp_path / "m")
    os.makedirs(mdir)
    # a crashed holder's lease, expired long ago
    dead = CASLockProvider(store, lease_sec=-10.0)
    dead.acquire(mdir)  # expires_at is already in the past

    provider = CASLockProvider(store, lease_sec=60.0, timeout_sec=30.0)
    inside: list[tuple[float, float]] = []
    guard = threading.Lock()

    def committer():
        h = provider.acquire(mdir)
        t0 = time.monotonic()
        time.sleep(0.01)  # widen any overlap window
        t1 = time.monotonic()
        with guard:
            inside.append((t0, t1))
        provider.release(h)

    threads = [threading.Thread(target=committer) for _ in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=60)
    assert len(inside) == 8
    spans = sorted(inside)
    overlaps = [
        (a, b)
        for a, b in zip(spans, spans[1:])
        if b[0] < a[1]
    ]
    assert not overlaps, "two committers were inside the lease at once"


def test_cas_lost_ack_acquire_converges(tmp_path):
    """Every 2nd successful put applies but raises TimeoutError. The
    provider must recognize its own winning token and proceed — and
    under that fault, threaded commits still lose nothing."""
    store = CASStore(str(tmp_path / "cas"), lose_ack_every=2)
    provider = CASLockProvider(store, timeout_sec=30.0)
    root = str(tmp_path / "ds")
    mf.commit(root, replace={"d": []}, lock=provider)
    errors: list[str] = []

    def adder(tid):
        try:
            for i in range(6):
                mf.commit(root, file_keys=[f"t{tid}-{i}"], lock=provider)
        except Exception as e:  # noqa: BLE001
            errors.append(repr(e))

    threads = [threading.Thread(target=adder, args=(t,)) for t in range(3)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert not errors, errors
    assert mf.current(root)["version"] == 18
    assert len(mf.ingested_keys(root)) == 18


def test_cas_expired_holder_cannot_release_thiefs_lease(tmp_path):
    """The stolen-lock victim scenario: a holder paused past expiry
    releases AFTER a thief took over — the thief's lease survives."""
    store = CASStore(str(tmp_path / "cas"))
    mdir = str(tmp_path / "m")
    os.makedirs(mdir)
    victim = CASLockProvider(store, lease_sec=0.05)
    h_victim = victim.acquire(mdir)
    time.sleep(0.1)  # victim 'pauses' past its own expiry
    thief = CASLockProvider(store, lease_sec=60.0)
    h_thief = thief.acquire(mdir)  # steals the expired lease
    victim.release(h_victim)  # must be a no-op
    cur = store.get(h_thief[0])
    assert cur is not None and cur["owner"] == h_thief[1]["owner"]
    thief.release(h_thief)
    assert store.get(h_thief[0]) is None


def test_cas_acquire_times_out_on_live_lease(tmp_path):
    store = CASStore(str(tmp_path / "cas"))
    mdir = str(tmp_path / "m")
    os.makedirs(mdir)
    holder = CASLockProvider(store, lease_sec=60.0)
    h = holder.acquire(mdir)
    waiter = CASLockProvider(store, lease_sec=60.0, timeout_sec=0.2)
    with pytest.raises(RuntimeError, match="CAS lease"):
        waiter.acquire(mdir)
    holder.release(h)
    # released: the next acquire is immediate
    h2 = waiter.acquire(mdir)
    waiter.release(h2)


# ---------------------------------------------------------------------------
# GCSCASStore: the real-service client, contract-tested against a fake
# that implements GCS generation-match semantics (404/412 by code)
# ---------------------------------------------------------------------------


class _GCSError(Exception):
    def __init__(self, code):
        super().__init__(f"http {code}")
        self.code = code


class _FakeBlob:
    def __init__(self, state, lock, name):
        self._state, self._lock, self._name = state, lock, name
        self.generation = None

    def reload(self):
        with self._lock:
            if self._name not in self._state:
                raise _GCSError(404)
            self.generation = self._state[self._name][1]

    def download_as_bytes(self, if_generation_match=None):
        with self._lock:
            if self._name not in self._state:
                raise _GCSError(404)
            data, gen = self._state[self._name]
            if if_generation_match is not None and gen != if_generation_match:
                raise _GCSError(412)
            return data

    def upload_from_string(self, data, content_type=None,
                           if_generation_match=None):
        with self._lock:
            exists = self._name in self._state
            if if_generation_match == 0 and exists:
                raise _GCSError(412)
            if (
                if_generation_match not in (None, 0)
                and (not exists or self._state[self._name][1] != if_generation_match)
            ):
                raise _GCSError(412)
            gen = (self._state[self._name][1] + 1) if exists else 1
            self._state[self._name] = (data.encode(), gen)

    def delete(self, if_generation_match=None):
        with self._lock:
            if self._name not in self._state:
                raise _GCSError(404)
            if (
                if_generation_match is not None
                and self._state[self._name][1] != if_generation_match
            ):
                raise _GCSError(412)
            del self._state[self._name]


class _FakeBucket:
    def __init__(self, state, lock):
        self._state, self._lock = state, lock

    def blob(self, name):
        return _FakeBlob(self._state, self._lock, name)


class _FakeGCSClient:
    """GCS generation-match semantics, in memory: each object carries
    a generation bumped on write; if_generation_match=0 means
    create-exclusive; delete/read preconditions 412 on mismatch."""

    def __init__(self):
        self._state: dict = {}
        self._lock = threading.Lock()

    def bucket(self, name):
        return _FakeBucket(self._state, self._lock)


def _gcs_store(tmp_path):
    from fintech_etl_spark.sinks.locks import GCSCASStore

    return GCSCASStore("b", prefix="locks", client=_FakeGCSClient())


@pytest.mark.parametrize("mk", [
    lambda tp: PosixCASStore(str(tp / "posix")),
    lambda tp: CASStore(str(tp / "cas")),
    _gcs_store,
], ids=["posix", "emulator", "gcs"])
def test_cas_store_contract(tmp_path, mk):
    """The three-primitive contract every store must satisfy — the
    default POSIX store, the emulation the race matrix drives and the
    real-service client (over the generation-semantics fake) must be
    indistinguishable to CASLockProvider. Body in tests/cas_contract.py — the SAME source
    of truth tests/test_cas_emulator.py runs against moto."""
    cas_contract.primitive_contract(mk(tmp_path))


def test_gcs_store_steal_race_is_single_winner(tmp_path):
    """Two stealers observing the SAME expired lease both attempt the
    conditional delete — the generation precondition admits exactly
    one (the loser's 412 → False), never both."""
    st = _gcs_store(tmp_path)
    stale = {"owner": "dead", "expires_at": 0}
    assert st.put_if_absent("lease", stale)
    wins = [st.delete_if_match("lease", stale) for _ in range(2)]
    assert wins == [True, False]


def test_gcs_lock_provider_threads_lose_no_commit(tmp_path):
    """The manifest lost-update test through GCSCASStore(fake): the
    same invariant the emulator passes, over the real client's code
    path (412 handling included)."""
    provider = CASLockProvider(_gcs_store(tmp_path))
    root = str(tmp_path / "ds")
    mf.commit(root, replace={"d": []}, lock=provider)
    errors: list[str] = []

    def adder(tid):
        try:
            for i in range(6):
                mf.commit(root, file_keys=[f"t{tid}-{i}"], lock=provider)
        except Exception as e:  # noqa: BLE001
            errors.append(repr(e))

    threads = [threading.Thread(target=adder, args=(t,)) for t in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert not errors, errors
    assert mf.current(root)["version"] == 24
    assert len(mf.ingested_keys(root)) == 24


def test_gcs_store_without_library_is_loud():
    """No google-cloud-storage in this container: constructing the
    real client without an injected one must raise the LOUD
    NotImplementedError naming the dependency (the Pub/Sub gating
    shape), never a bare ImportError from deep inside."""
    from fintech_etl_spark.sinks.locks import GCSCASStore

    try:
        import google.cloud.storage  # noqa: F401
        pytest.skip("google-cloud-storage installed here; gate untestable")
    except ImportError:
        pass
    with pytest.raises(NotImplementedError, match="google-cloud-storage"):
        GCSCASStore("some-bucket")


# ---------------------------------------------------------------------------
# S3CASStore: same contract over botocore-shaped conditional requests
# ---------------------------------------------------------------------------


class _S3Error(Exception):
    def __init__(self, code, status):
        super().__init__(code)
        self.response = {
            "Error": {"Code": code},
            "ResponseMetadata": {"HTTPStatusCode": status},
        }


class _FakeS3Client:
    """S3 conditional-request semantics, in memory: per-key (bytes,
    etag) with If-None-Match:* create-exclusive on put and
    If-Match-etag single-winner delete."""

    def __init__(self):
        self._state: dict = {}
        self._lock = threading.Lock()
        self._etag_seq = 0

    def put_object(self, Bucket, Key, Body, IfNoneMatch=None, IfMatch=None):
        with self._lock:
            if IfNoneMatch == "*" and Key in self._state:
                raise _S3Error("PreconditionFailed", 412)
            if IfMatch is not None and (
                Key not in self._state or self._state[Key][1] != IfMatch
            ):
                raise _S3Error("PreconditionFailed", 412)
            self._etag_seq += 1
            self._state[Key] = (Body, f'"{self._etag_seq:08x}"')

    def get_object(self, Bucket, Key):
        import io

        with self._lock:
            if Key not in self._state:
                raise _S3Error("NoSuchKey", 404)
            body, etag = self._state[Key]
            return {"Body": io.BytesIO(body), "ETag": etag}

    def delete_object(self, Bucket, Key, IfMatch=None):
        with self._lock:
            if Key not in self._state:
                raise _S3Error("NoSuchKey", 404)
            if IfMatch is not None and self._state[Key][1] != IfMatch:
                raise _S3Error("PreconditionFailed", 412)
            del self._state[Key]


def _s3_store(tmp_path):
    from fintech_etl_spark.sinks.locks import S3CASStore

    return S3CASStore("b", prefix="locks", client=_FakeS3Client())


@pytest.mark.parametrize("mk", [_s3_store], ids=["s3"])
def test_s3_store_contract(tmp_path, mk):
    """Identical three-primitive contract as the emulator and GCS —
    the lock provider must not be able to tell the stores apart."""
    st = mk(tmp_path)
    assert st.get("k") is None
    assert st.put_if_absent("k", {"v": 1}) is True
    assert st.put_if_absent("k", {"v": 2}) is False
    assert st.get("k") == {"v": 1}
    assert st.delete_if_match("k", {"v": 2}) is False
    assert st.delete_if_match("k", {"v": 1}) is True
    assert st.get("k") is None
    assert st.delete_if_match("k", {"v": 1}) is False
    assert st.put_if_absent("k", {"v": 3}) is True


def test_s3_store_steal_race_is_single_winner(tmp_path):
    st = _s3_store(tmp_path)
    stale = {"owner": "dead", "expires_at": 0}
    assert st.put_if_absent("lease", stale)
    wins = [st.delete_if_match("lease", stale) for _ in range(2)]
    assert wins == [True, False]


def test_s3_lock_provider_threads_lose_no_commit(tmp_path):
    provider = CASLockProvider(_s3_store(tmp_path))
    root = str(tmp_path / "ds")
    mf.commit(root, replace={"d": []}, lock=provider)
    errors: list[str] = []

    def adder(tid):
        try:
            for i in range(6):
                mf.commit(root, file_keys=[f"t{tid}-{i}"], lock=provider)
        except Exception as e:  # noqa: BLE001
            errors.append(repr(e))

    threads = [threading.Thread(target=adder, args=(t,)) for t in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert not errors, errors
    assert mf.current(root)["version"] == 24
    assert len(mf.ingested_keys(root)) == 24


def test_s3_store_without_library_is_loud():
    from fintech_etl_spark.sinks.locks import S3CASStore

    try:
        import boto3  # noqa: F401
        pytest.skip("boto3 installed here; gate untestable")
    except ImportError:
        pass
    with pytest.raises(NotImplementedError, match="boto3"):
        S3CASStore("some-bucket")


def test_s3_conditional_delete_unsupported_bucket_is_loud(tmp_path):
    """General-purpose S3 buckets reject DeleteObject+If-Match with
    501 NotImplemented (a directory-bucket feature): the store must
    surface that as a NotImplementedError naming the requirement, not
    a mid-release botocore stack trace mapped to neither 404 nor 412."""
    from fintech_etl_spark.sinks.locks import S3CASStore

    class GeneralPurposeFake(_FakeS3Client):
        def delete_object(self, Bucket, Key, IfMatch=None):
            if IfMatch is not None:
                raise _S3Error("NotImplemented", 501)
            return super().delete_object(Bucket, Key)

    st = S3CASStore("gp-bucket", client=GeneralPurposeFake())
    assert st.put_if_absent("k", {"v": 1})
    with pytest.raises(NotImplementedError, match="DIRECTORY-bucket"):
        st.delete_if_match("k", {"v": 1})


# ---------------------------------------------------------------------------
# DynamoDBCASStore: the canonical Delta/Iceberg lock-table shape
# ---------------------------------------------------------------------------


class _DDBError(Exception):
    def __init__(self, code):
        super().__init__(code)
        self.response = {"Error": {"Code": code}}


class _FakeDynamoClient:
    """Low-level DynamoDB conditional-write semantics, in memory:
    attribute_not_exists create-exclusive on put, full-value
    conditional delete (fails on absence or mismatch)."""

    def __init__(self):
        self._state: dict = {}
        self._lock = threading.Lock()

    def put_item(
        self, TableName, Item, ConditionExpression=None,
        ExpressionAttributeValues=None,
    ):
        key = Item["lock_key"]["S"]
        with self._lock:
            if (
                ConditionExpression == "attribute_not_exists(lock_key)"
                and key in self._state
            ):
                raise _DDBError("ConditionalCheckFailedException")
            if ConditionExpression == "value_json = :v":
                want = ExpressionAttributeValues[":v"]["S"]
                if self._state.get(key) != want:
                    raise _DDBError("ConditionalCheckFailedException")
            self._state[key] = Item["value_json"]["S"]

    def get_item(self, TableName, Key, ConsistentRead=False):
        key = Key["lock_key"]["S"]
        with self._lock:
            if key not in self._state:
                return {}
            return {"Item": {"value_json": {"S": self._state[key]}}}

    def delete_item(
        self, TableName, Key, ConditionExpression=None,
        ExpressionAttributeValues=None,
    ):
        key = Key["lock_key"]["S"]
        with self._lock:
            if ConditionExpression == "value_json = :v":
                want = ExpressionAttributeValues[":v"]["S"]
                if self._state.get(key) != want:
                    raise _DDBError("ConditionalCheckFailedException")
            self._state.pop(key, None)


def _ddb_store(tmp_path):
    from fintech_etl_spark.sinks.locks import DynamoDBCASStore

    return DynamoDBCASStore("locks", client=_FakeDynamoClient())


def test_ddb_store_contract(tmp_path):
    """Identical three-primitive contract as the emulator / GCS / S3."""
    st = _ddb_store(tmp_path)
    assert st.get("k") is None
    assert st.put_if_absent("k", {"v": 1}) is True
    assert st.put_if_absent("k", {"v": 2}) is False
    assert st.get("k") == {"v": 1}
    assert st.delete_if_match("k", {"v": 2}) is False
    assert st.delete_if_match("k", {"v": 1}) is True
    assert st.get("k") is None
    assert st.delete_if_match("k", {"v": 1}) is False
    assert st.put_if_absent("k", {"v": 3}) is True


def test_ddb_store_steal_race_is_single_winner(tmp_path):
    st = _ddb_store(tmp_path)
    stale = {"owner": "dead", "expires_at": 0}
    assert st.put_if_absent("lease", stale)
    wins = [st.delete_if_match("lease", stale) for _ in range(2)]
    assert wins == [True, False]


def test_ddb_lock_provider_threads_lose_no_commit(tmp_path):
    provider = CASLockProvider(_ddb_store(tmp_path))
    root = str(tmp_path / "ds")
    mf.commit(root, replace={"d": []}, lock=provider)
    errors: list[str] = []

    def adder(tid):
        try:
            for i in range(6):
                mf.commit(root, file_keys=[f"t{tid}-{i}"], lock=provider)
        except Exception as e:  # noqa: BLE001
            errors.append(repr(e))

    threads = [threading.Thread(target=adder, args=(t,)) for t in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert not errors, errors
    assert mf.current(root)["version"] == 24
    assert len(mf.ingested_keys(root)) == 24


# ---------------------------------------------------------------------------
# put_if_match (the renewal primitive) + lease renewal + version claims
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("mk", [
    lambda tp: PosixCASStore(str(tp / "posix")),
    lambda tp: CASStore(str(tp / "cas")),
    _gcs_store,
    _s3_store,
    lambda tp: _ddb_store(tp),
], ids=["posix", "emulator", "gcs", "s3", "ddb"])
def test_put_if_match_contract(tmp_path, mk):
    """The FOURTH primitive, identical across all four stores. Body in
    tests/cas_contract.py — the SAME source of truth the moto suite
    executes."""
    cas_contract.put_if_match_contract(mk(tmp_path))


@pytest.mark.parametrize("mk", [
    lambda tp: PosixCASStore(str(tp / "posix")),
    lambda tp: CASStore(str(tp / "cas")),
    _gcs_store,
    _s3_store,
    lambda tp: _ddb_store(tp),
], ids=["posix", "emulator", "gcs", "s3", "ddb"])
def test_renew_vs_steal_is_single_winner(tmp_path, mk):
    """The renewal race matrix: an EXPIRED lease being renewed by its
    slow-but-alive holder while a stealer conditional-deletes it —
    the store admits exactly one. Whichever wins, the loser observes
    it cleanly (renew → None means abort loudly; steal → False means
    re-observe), never both inside the lock."""
    st = mk(tmp_path)
    provider = CASLockProvider(st, lease_sec=0.05)
    mdir = str(tmp_path / "m")
    os.makedirs(mdir, exist_ok=True)
    h = provider.acquire(mdir)
    time.sleep(0.1)  # holder stalls past expiry
    key, lease = h
    # drive both sides of the race explicitly, both orders
    renewed = provider.renew(h)          # holder heartbeats first
    stolen = st.delete_if_match(key, lease)  # stealer acts on the OLD value
    assert (renewed is not None) and (stolen is False)
    # now the steal wins first: expire again, steal, then renew
    time.sleep(0.1)
    key2, lease2 = renewed
    assert st.delete_if_match(key2, lease2) is True   # stealer wins
    assert provider.renew(renewed) is None            # holder must abort
    # a renewed-then-live lease refuses renewal by anyone else's value
    h3 = provider.acquire(mdir)
    assert provider.verify(h3)
    provider.release(h3)


def test_renew_is_cheap_noop_while_lease_is_fresh(tmp_path):
    st = CASStore(str(tmp_path / "cas"))
    provider = CASLockProvider(st, lease_sec=60.0)
    mdir = str(tmp_path / "m")
    os.makedirs(mdir)
    h = provider.acquire(mdir)
    h2 = provider.renew(h)
    assert h2 is h  # untouched: >50% of the lease width remains
    provider.release(h)


def test_renewed_lease_blocks_acquire_past_original_width(tmp_path):
    """The whole point of renewal: a holder legitimately outliving
    lease_sec keeps contenders out for as long as it heartbeats —
    without renewal the contender's steal would land mid-work."""
    st = CASStore(str(tmp_path / "cas"))
    provider = CASLockProvider(st, lease_sec=0.3)
    mdir = str(tmp_path / "m")
    os.makedirs(mdir)
    h = provider.acquire(mdir)
    t0 = time.monotonic()
    contender = CASLockProvider(st, lease_sec=0.3, timeout_sec=0.15)
    while time.monotonic() - t0 < 0.7:  # > 2x the lease width
        h = provider.renew(h, min_remaining_frac=0.9)
        assert h is not None
        time.sleep(0.02)
    with pytest.raises(RuntimeError, match="CAS lease"):
        contender.acquire(mdir)  # still held, 0.7s past a 0.3s lease
    provider.release(h)
    h2 = contender.acquire(mdir)
    contender.release(h2)


def test_claim_version_is_single_winner_and_survives_lost_ack(tmp_path):
    st = CASStore(str(tmp_path / "cas"))
    provider = CASLockProvider(st)
    mdir = str(tmp_path / "m")
    os.makedirs(mdir)
    assert provider.claim_version(mdir, 3, "manifest-a.json") is True
    assert provider.claim_version(mdir, 3, "manifest-b.json") is False
    assert provider.read_claim(mdir, 3) == "manifest-a.json"
    # lost-ack on the claim put: applied server-side, ack dropped —
    # the claimant re-reads and recognizes its own manifest name
    st2 = CASStore(str(tmp_path / "cas2"), lose_ack_every=1)
    p2 = CASLockProvider(st2)
    assert p2.claim_version(mdir, 0, "manifest-x.json") is True
    assert p2.read_claim(mdir, 0) == "manifest-x.json"
    # ...and a LOST lost-ack race (someone else's claim landed) is False
    assert p2.claim_version(mdir, 0, "manifest-y.json") is False
    p2.drop_claim(mdir, 0)
    assert p2.read_claim(mdir, 0) is None


def test_s3_409_conditional_conflict_retries_once_then_concedes(tmp_path):
    """Real S3 answers 409 ConditionalRequestConflict when concurrent
    conditional requests race mid-evaluation on one key — and per AWS
    semantics the COMPETING request may itself have failed, so a 409
    (unlike 412) says nothing about the key's state. Each primitive
    must retry its conditional request once (the r15 ADVICE
    refinement — a single transient collision must not convert a
    healthy claim/renewal into a spurious CommitLockLostError) and
    only concede False on persistent conflict, never crash with a raw
    ClientError (the r13 finding)."""
    from fintech_etl_spark.sinks.locks import S3CASStore

    class ConflictingFake(_FakeS3Client):
        def __init__(self):
            super().__init__()
            self.conflicts = 0

        def put_object(self, Bucket, Key, Body, IfNoneMatch=None, IfMatch=None):
            if (IfNoneMatch or IfMatch) and self.conflicts > 0:
                self.conflicts -= 1
                raise _S3Error("ConditionalRequestConflict", 409)
            return super().put_object(Bucket, Key, Body, IfNoneMatch, IfMatch)

        def delete_object(self, Bucket, Key, IfMatch=None):
            if IfMatch is not None and self.conflicts > 0:
                self.conflicts -= 1
                raise _S3Error("ConditionalRequestConflict", 409)
            return super().delete_object(Bucket, Key, IfMatch)

    fake = ConflictingFake()
    st = S3CASStore("b", client=fake)
    # ONE transient 409 resolves via the in-call retry — the healthy
    # commit is not aborted
    fake.conflicts = 1
    assert st.put_if_absent("k", {"v": 1}) is True
    fake.conflicts = 1
    assert st.delete_if_match("k", {"v": 1}) is True
    assert st.put_if_absent("k", {"v": 2}) is True
    fake.conflicts = 1
    assert st.put_if_match("k", {"v": 2}, {"v": 3}) is True
    assert st.get("k") == {"v": 3}
    # PERSISTENT conflict (retry also 409s) concedes False — bounded,
    # the caller's own loop (acquire re-observe / loud claim abort)
    # takes over; a later uncontended call succeeds
    fake.conflicts = 2
    assert st.put_if_absent("k2", {"v": 1}) is False
    assert st.put_if_absent("k2", {"v": 1}) is True
    fake.conflicts = 2
    assert st.put_if_match("k2", {"v": 1}, {"v": 2}) is False
    assert st.get("k2") == {"v": 1}
    fake.conflicts = 2
    assert st.delete_if_match("k2", {"v": 1}) is False
    assert st.delete_if_match("k2", {"v": 1}) is True
    # 412 stays a DEFINITIVE loss: no retry, immediate False
    assert st.put_if_absent("k", {"v": 9}) is False
    # ...and under a provider, a 409 mid-acquire converges instead of
    # crashing: seed an expired lease, make the steal's delete 409
    provider = CASLockProvider(st, lease_sec=60.0, timeout_sec=10.0)
    dead = CASLockProvider(st, lease_sec=-10.0)
    dead.acquire(str(tmp_path / "m2"))
    fake.conflicts = 1
    h = provider.acquire(str(tmp_path / "m2"))
    provider.release(h)


# ---------------------------------------------------------------------------
# one lease rule across stores and processes
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("mk", [
    lambda tp: PosixCASStore(),
    lambda tp: CASStore(str(tp / "cas")),
], ids=["posix", "emulator"])
def test_holder_declared_lease_decides_the_steal(tmp_path, mk):
    """Two processes built with different lease settings must agree on
    who holds the lock: staleness is the HOLDER's declared lease, never
    the acquirer's own setting. A short-lease acquirer does not steal a
    live 5 s lease; a long-lease acquirer steals an expired 0.05 s one
    at once instead of waiting out its own 60 s."""
    st = mk(tmp_path)
    mdir = str(tmp_path / "m")
    os.makedirs(mdir)
    holder = CASLockProvider(st, lease_sec=5.0)
    h = holder.acquire(mdir)
    impatient = CASLockProvider(st, lease_sec=0.05, timeout_sec=0.3)
    with pytest.raises(RuntimeError, match="CAS lease"):
        impatient.acquire(mdir)
    assert holder.verify(h)
    holder.release(h)

    short = CASLockProvider(st, lease_sec=0.05)
    h_short = short.acquire(mdir)
    patient = CASLockProvider(st, lease_sec=60.0)
    t0 = time.monotonic()
    h_patient = patient.acquire(mdir)
    assert time.monotonic() - t0 < 1.0
    assert not short.verify(h_short)
    assert patient.verify(h_patient)
    patient.release(h_patient)


def _commit_keys_worker(root, wid, n, barrier, out):
    """Spawned worker: after the start barrier, ``n`` commits of one
    staged segment and one file key each through the DEFAULT provider;
    reports the committed versions (or the error) on ``out``."""
    try:
        barrier.wait(timeout=120)
        versions = []
        for i in range(n):
            seg = mf.new_segment_path(root)
            os.makedirs(seg)
            m = mf.commit(root, add={"d": [seg]}, file_keys=[f"w{wid}-{i}"])
            versions.append(m["version"])
        out.put(versions)
    except Exception:  # noqa: BLE001 — surfaced by the parent
        out.put(traceback.format_exc())


def test_default_lock_serializes_commits_across_processes(tmp_path):
    """The POSIX store is lock state separate processes actually share
    (the emulation's threading.Lock cannot cross a process boundary):
    spawned workers committing disjoint file keys to ONE lake through
    the default provider leave a gapless version chain, every key
    ingested exactly once, and no temp or grave file behind."""
    import multiprocessing as mp

    root = str(tmp_path / "ds")
    mf.commit(root, replace={"d": []})
    n_workers, per = 4, 10
    ctx = mp.get_context("spawn")
    barrier = ctx.Barrier(n_workers)
    out = ctx.Queue()
    procs = [
        ctx.Process(
            target=_commit_keys_worker, args=(root, w, per, barrier, out)
        )
        for w in range(n_workers)
    ]
    for p in procs:
        p.start()
    results = [out.get(timeout=180) for _ in procs]
    for p in procs:
        p.join(timeout=60)
        assert p.exitcode == 0
    assert all(isinstance(r, list) for r in results), results
    versions = sorted(v for r in results for v in r)
    assert versions == list(range(1, n_workers * per + 1))
    assert mf.current(root)["version"] == n_workers * per
    keys = {f"w{w}-{i}" for w in range(n_workers) for i in range(per)}
    assert mf.ingested_keys(root) == keys
    assert mf.ingested_count(root) == len(keys)
    assert len(mf.current(root)["datasets"]["d"]) == len(keys)
    mdir = mf.manifests_dir(root)
    assert not [
        n for n in os.listdir(mdir) if ".tmp-" in n or ".grave-" in n
    ]
    assert mf.fsck(root)["ok"]
