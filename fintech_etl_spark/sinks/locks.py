"""The manifest commit lock: one lease protocol over pluggable stores.

Every commit, vacuum and restore runs under :class:`CASLockProvider`,
a LEASE built on a tiny conditional-write vocabulary — the shape of
the Delta-on-S3 DynamoDB LogStore and Iceberg's lock managers. The
STORE is the only thing that changes between deployments:
:class:`PosixCASStore` (the default, one file per key next to the
manifests), :class:`GCSCASStore`, :class:`S3CASStore`,
:class:`DynamoDBCASStore`, or the in-process :class:`CASStore`
emulation the race tests drive. A store implements four primitives:

===============================  ===================================
primitive here                   real-service mapping
===============================  ===================================
``put_if_absent(k, v)``          S3 ``PutObject`` + ``If-None-Match:
                                 *`` (atomic since 2024) / GCS
                                 ``x-goog-if-generation-match: 0`` /
                                 DynamoDB ``PutItem`` with
                                 ``attribute_not_exists(key)``
``get(k)``                       plain GET
``delete_if_match(k, v)``        DynamoDB conditional ``DeleteItem``
                                 / GCS delete ``if-generation-match``
                                 / S3 ``DeleteObject`` + ``If-Match``
                                 (etag; directory buckets only — see
                                 :class:`S3CASStore`)
``put_if_match(k, old, new)``    DynamoDB ``PutItem`` with
                                 ``value = :old`` condition / GCS
                                 upload ``if-generation-match=<gen>``
                                 / S3 ``PutObject`` + ``If-Match``
                                 (etag; general-purpose buckets OK —
                                 conditional WRITES are universal).
                                 The lease-RENEWAL primitive: extend
                                 your own lease atomically, losing
                                 cleanly to a concurrent steal
===============================  ===================================

:class:`CASLockProvider` composes them into a LEASE: ``acquire`` is a
``put_if_absent`` of ``{owner, expires_at}``; a conflicting acquire
GETs the lease and, once it is past the expiry the HOLDER declared,
issues a ``delete_if_match`` of the EXACT stale value before retrying
the put — conditional delete is what makes the steal single-winner
(two stealers cannot both match; the loser re-observes). The
acquirer's own ``lease_sec`` never enters the steal decision, so two
processes built with different settings agree on who holds the lock.
``release`` is a ``delete_if_match`` on the holder's own lease value,
so a holder paused past its expiry whose lease was stolen can never
delete the thief's lease. Commit critical sections are usually
microsecond metadata steps (the data is staged outside the lock), so
``lease_sec`` bounds crash recovery, not liveness negotiation. The
exception is maintenance work that legitimately holds the lock across
destructive I/O (``vacuum``'s segment deletes, a large ingest-history
rollup) — those paths call :meth:`CASLockProvider.renew`, a
``put_if_match`` of the holder's own lease with an extended deadline:
atomic against a concurrent steal (the steal's conditional delete and
the renewal's conditional replace race at the store; exactly one
wins), so a legitimately-slow commit survives past the original lease
width instead of converting into an abort + orphan + full retry,
while a STOLEN lease still renews to a loud failure.

:class:`CASStore` is the in-process emulation used in tests: one
JSON file per key under a scratch directory, mutated via
``os.replace`` under an internal mutex that stands in for the
service's server-side serialization. Its fault injection models the
classic at-least-once client window — ``lose_ack_every=N`` makes
every Nth successful ``put_if_absent`` APPLY server-side but raise
``TimeoutError`` to the caller (the ack is lost). A correct client
must then re-inspect: if the stored owner is its own token, its put
actually won — :meth:`CASLockProvider.acquire` does exactly that, so
a lost-then-won race converges instead of deadlocking on its own
lease.

The manifest layer sees only the provider:
``commit(..., lock=CASLockProvider(store))`` swaps the store at the
same injection point the race-test matrix drives
(``tests/test_manifest.py``); without ``lock=`` every lake uses
``manifest.DEFAULT_LOCK_PROVIDER``, the lease over a
:class:`PosixCASStore`.
"""

from __future__ import annotations

import json
import os
import threading
import time
import uuid

__all__ = [
    "PosixCASStore",
    "CASStore",
    "CASLockProvider",
    "GCSCASStore",
    "S3CASStore",
    "DynamoDBCASStore",
]


class PosixCASStore:
    """The four primitives over a POSIX filesystem (also NFSv4 and
    HDFS: anything with atomic ``link`` and ``rename``) — the default
    store, process-safe with no server and no mutex. One JSON file per
    key; keys are file paths, a relative key resolving under ``root``.
    :class:`CASLockProvider`'s keys are absolute paths inside the
    lake's ``_manifests/``, so the lease is ``_manifests/_commit.lock``
    and the version claims are ``_manifests/claim-<version>``.

    - ``put_if_absent``: the value is fsync-written to a private temp
      file and published by ``os.link``, which fails when the key
      exists — create-exclusive, and content-complete from the first
      instant the key is visible (a crash leaves an unlinked temp,
      never an empty key wedging a claim).
    - ``get``: read and parse. A key that exists but does not parse —
      an empty file, or a plain-text lock file written by an older
      release — reads as ``{}``: no owner and no expiry, so the
      provider judges it an expired lease and steals it.
    - ``delete_if_match`` / ``put_if_match``: ``os.rename`` the key to
      a unique grave — exactly one caller wins a rename, the service's
      single-winner rule — then compare the grave's value with
      ``expected``. A match deletes the grave (``put_if_match`` first
      publishes the new value the way ``put_if_absent`` does); a
      mismatch links the displaced value back.

    Residual window, stated honestly: between the rename and the
    publish or restore the key is absent, and a concurrent
    ``put_if_absent`` can land there. A restore that finds the key
    re-created drops the displaced value, so its holder's next
    verify/renew fails loudly; a renewal that finds it re-created
    returns False, so its holder aborts. The window costs a spurious
    abort, never a second commit of one version — the version claim
    stays single-winner. A plain read first skips the rename whenever
    the value visibly differs, so a live lease is displaced only by a
    race inside that microsecond window.
    """

    def __init__(self, root: str = "") -> None:
        self.root = root
        if root:
            os.makedirs(root, exist_ok=True)

    def _path(self, key: str) -> str:
        return os.path.join(self.root, key)

    @staticmethod
    def _read(path: str) -> dict | None:
        try:
            with open(path, "rb") as fh:
                raw = fh.read()
        except OSError:
            return None
        try:
            value = json.loads(raw)
        except ValueError:  # includes undecodable bytes
            return {}
        return value if isinstance(value, dict) else {}

    @staticmethod
    def _publish(path: str, value: dict) -> bool:
        tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as fh:
            json.dump(value, fh)
            fh.flush()
            os.fsync(fh.fileno())
        try:
            os.link(tmp, path)
            return True
        except FileExistsError:
            return False
        finally:
            os.unlink(tmp)

    def _take_if_match(self, path: str, expected: dict) -> str | None:
        """Rename the key to a grave iff its value is ``expected``;
        returns the grave path (the caller unlinks it) or None."""
        if self._read(path) != expected:
            return None
        grave = f"{path}.grave-{uuid.uuid4().hex[:8]}"
        try:
            os.rename(path, grave)
        except FileNotFoundError:
            return None  # another conditional op won the rename
        if self._read(grave) == expected:
            return grave
        try:
            os.link(grave, path)  # displaced a different value: put it back
        except FileExistsError:
            pass
        os.unlink(grave)
        return None

    def put_if_absent(self, key: str, value: dict) -> bool:
        return self._publish(self._path(key), value)

    def get(self, key: str) -> dict | None:
        return self._read(self._path(key))

    def delete_if_match(self, key: str, expected: dict) -> bool:
        grave = self._take_if_match(self._path(key), expected)
        if grave is None:
            return False
        os.unlink(grave)
        return True

    def put_if_match(self, key: str, expected: dict, value: dict) -> bool:
        path = self._path(key)
        grave = self._take_if_match(path, expected)
        if grave is None:
            return False
        try:
            return self._publish(path, value)
        finally:
            os.unlink(grave)


class CASStore:
    """Conditional-put KV emulation over a scratch directory.

    Only the three primitives a real CAS service exposes (see module
    docstring) — deliberately NO rename-steal, hard links, inodes or
    mtimes, so a lock built on it is honest about what an object
    store can do. An internal mutex emulates server-side atomicity;
    values persist as one JSON file per key (``os.replace`` keeps
    each visible state complete).

    ``lose_ack_every=N``: every Nth SUCCESSFUL ``put_if_absent``
    applies its write, then raises ``TimeoutError`` — the lost-ack
    fault every at-least-once client must tolerate.
    """

    def __init__(self, root: str, lose_ack_every: int = 0) -> None:
        self.root = root
        os.makedirs(root, exist_ok=True)
        self.lose_ack_every = lose_ack_every
        self._mutex = threading.Lock()
        self._puts_applied = 0

    def _path(self, key: str) -> str:
        # keys are service-namespace strings; flatten to one file name
        safe = key.replace(os.sep, "_").replace(":", "_")
        return os.path.join(self.root, f"{safe}.json")

    def put_if_absent(self, key: str, value: dict) -> bool:
        """Atomic create-exclusive. True = this call created the key."""
        with self._mutex:
            path = self._path(key)
            if os.path.exists(path):
                return False
            tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
            with open(tmp, "w") as fh:
                json.dump(value, fh)
            os.replace(tmp, path)
            self._puts_applied += 1
            if (
                self.lose_ack_every
                and self._puts_applied % self.lose_ack_every == 0
            ):
                raise TimeoutError(
                    "CASStore: put applied but ack lost (injected)"
                )
            return True

    def get(self, key: str) -> dict | None:
        with self._mutex:
            try:
                with open(self._path(key)) as fh:
                    return json.load(fh)
            except (OSError, json.JSONDecodeError):
                return None

    def delete_if_match(self, key: str, expected: dict) -> bool:
        """Conditional delete: removes the key only if its current
        value equals ``expected``. True = this call deleted it. The
        single-winner guarantee every steal and release builds on."""
        with self._mutex:
            path = self._path(key)
            try:
                with open(path) as fh:
                    cur = json.load(fh)
            except (OSError, json.JSONDecodeError):
                return False
            if cur != expected:
                return False
            os.unlink(path)
            return True

    def put_if_match(self, key: str, expected: dict, value: dict) -> bool:
        """Conditional replace: overwrites the key only if its current
        value equals ``expected`` (absent key = no match). True = this
        call replaced it. The renewal primitive: atomic against a
        concurrent ``delete_if_match`` steal — one mutex here, one
        server-side serialization at a real service."""
        with self._mutex:
            path = self._path(key)
            try:
                with open(path) as fh:
                    cur = json.load(fh)
            except (OSError, json.JSONDecodeError):
                return False
            if cur != expected:
                return False
            tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
            with open(tmp, "w") as fh:
                json.dump(value, fh)
            os.replace(tmp, path)
            return True


class GCSCASStore:
    """The three CAS primitives over a REAL object store — Google
    Cloud Storage's generation-match preconditions (public service
    semantics: one JSON object per key, ``x-goog-if-generation-match``
    headers; see the module table). Drop-in for the ``store``
    parameter of :class:`CASLockProvider`, making the manifest commit
    lock real on GCS the same way Delta-on-S3 goes through DynamoDB.

    - ``put_if_absent`` → upload with ``if_generation_match=0``: the
      service accepts exactly one creator; a racing creator gets HTTP
      412 (PreconditionFailed) and this returns False.
    - ``get`` → plain object read (404 → None).
    - ``delete_if_match`` → read the object's VALUE AND GENERATION,
      compare the value, then delete with ``if_generation_match=<that
      generation>``: two stealers that both observed the same expired
      lease race their deletes, the service admits exactly one (the
      loser's 412 → False) — the single-winner guarantee every steal
      and release builds on. A value that changed between read and
      delete also 412s, so a just-renewed foreign lease can never be
      deleted by a stale observer.

    Gated exactly like the real Pub/Sub transport
    (``sinks/pubsub.py``): constructing without ``google-cloud-
    storage`` installed (this container) raises a LOUD
    ``NotImplementedError`` naming the dependency. ``client`` is
    injectable for contract tests — anything exposing
    ``bucket(name).blob(path)`` with ``download_as_bytes`` /
    ``upload_from_string(if_generation_match=)`` /
    ``delete(if_generation_match=)`` / ``reload()``+``.generation``
    and raising the google-api-core ``NotFound`` / ``PreconditionFailed``
    shapes (any exception type carrying ``.code`` 404/412 works).
    """

    def __init__(self, bucket: str, prefix: str = "", client=None) -> None:
        if client is None:
            try:
                from google.cloud import storage  # absent in this container
            except ImportError as ex:
                raise NotImplementedError(
                    "GCSCASStore requires google-cloud-storage (not "
                    "installed) and application-default credentials; "
                    "inject a client, or use the CASStore emulation for "
                    "local runs"
                ) from ex
            client = storage.Client()
        self._bucket = client.bucket(bucket)
        self.prefix = prefix.strip("/")

    def _blob(self, key: str):
        safe = key.replace(os.sep, "_").replace(":", "_")
        name = f"{self.prefix}/{safe}.json" if self.prefix else f"{safe}.json"
        return self._bucket.blob(name)

    @staticmethod
    def _code(ex: Exception) -> int | None:
        return getattr(ex, "code", None) or getattr(ex, "status_code", None)

    def put_if_absent(self, key: str, value: dict) -> bool:
        blob = self._blob(key)
        try:
            blob.upload_from_string(
                json.dumps(value),
                content_type="application/json",
                if_generation_match=0,
            )
            return True
        except Exception as ex:  # noqa: BLE001 — typed by HTTP code
            if self._code(ex) == 412:  # somebody else created it
                return False
            raise

    def get(self, key: str) -> dict | None:
        blob = self._blob(key)
        try:
            return json.loads(blob.download_as_bytes())
        except Exception as ex:  # noqa: BLE001
            if self._code(ex) == 404:
                return None
            raise

    def delete_if_match(self, key: str, expected: dict) -> bool:
        blob = self._blob(key)
        try:
            blob.reload()  # pins .generation to the observed value
            cur = json.loads(blob.download_as_bytes(
                if_generation_match=blob.generation
            ))
        except Exception as ex:  # noqa: BLE001
            if self._code(ex) in (404, 412):
                return False  # gone, or mutated mid-read — not a match
            raise
        if cur != expected:
            return False
        try:
            blob.delete(if_generation_match=blob.generation)
            return True
        except Exception as ex:  # noqa: BLE001
            if self._code(ex) in (404, 412):
                return False  # another stealer's delete won the race
            raise

    def put_if_match(self, key: str, expected: dict, value: dict) -> bool:
        """Conditional replace (lease renewal): read value+generation,
        compare, then upload with ``if_generation_match=<that
        generation>`` — a steal's conditional delete landing in
        between changes the generation, so the service admits exactly
        one of the pair (the loser's 412 → False)."""
        blob = self._blob(key)
        try:
            blob.reload()
            cur = json.loads(blob.download_as_bytes(
                if_generation_match=blob.generation
            ))
        except Exception as ex:  # noqa: BLE001
            if self._code(ex) in (404, 412):
                return False  # gone, or mutated mid-read — not a match
            raise
        if cur != expected:
            return False
        try:
            blob.upload_from_string(
                json.dumps(value),
                content_type="application/json",
                if_generation_match=blob.generation,
            )
            return True
        except Exception as ex:  # noqa: BLE001
            if self._code(ex) in (404, 412):
                return False  # a concurrent steal/renewal won
            raise


class S3CASStore:
    """The S3 twin of :class:`GCSCASStore` — the three CAS primitives
    over Amazon S3's conditional requests (public semantics: atomic
    ``If-None-Match: *`` on PutObject since 2024, ``If-Match``-
    conditioned DeleteObject on the object's ETag):

    - ``put_if_absent`` → ``PutObject(IfNoneMatch="*")``: exactly one
      creator wins; a racing creator's HTTP 412 → False.
    - ``get`` → plain GetObject (``NoSuchKey`` → None).
    - ``delete_if_match`` → GetObject (value + ETag), compare the
      value, then ``DeleteObject(IfMatch=<that etag>)``: two stealers
      race their conditional deletes and S3 admits exactly one — the
      loser's 412 → False, same single-winner shape as the GCS
      generation match.

    BUCKET REQUIREMENT, stated honestly: conditional WRITES
    (``If-None-Match: *``) are supported on general-purpose buckets,
    but ``DeleteObject`` with ``If-Match`` is a DIRECTORY-bucket
    (S3 Express One Zone) feature — on a general-purpose bucket the
    service answers 501 NotImplemented, which this class surfaces as
    a loud ``NotImplementedError`` naming the requirement rather than
    a mid-release stack trace. Point the lock namespace at a
    directory bucket, use :class:`GCSCASStore` (generation match
    works on every GCS bucket), or a DynamoDB-backed provider.

    Gated like the Pub/Sub transport and :class:`GCSCASStore`:
    constructing without ``boto3`` (this container) raises a LOUD
    ``NotImplementedError``. ``client`` injects any object exposing
    ``put_object`` / ``get_object`` / ``delete_object`` with those
    preconditions and botocore-shaped ``ClientError``s (an exception
    whose ``response["Error"]["Code"]`` is ``PreconditionFailed`` /
    ``NoSuchKey`` / a 412 status) — the contract tests drive a fake
    with exactly those semantics.
    """

    def __init__(self, bucket: str, prefix: str = "", client=None) -> None:
        if client is None:
            try:
                import boto3  # absent in this container
            except ImportError as ex:
                raise NotImplementedError(
                    "S3CASStore requires boto3 (not installed) and AWS "
                    "credentials; inject a client, or use the CASStore "
                    "emulation for local runs"
                ) from ex
            client = boto3.client("s3")
        self._client = client
        self.bucket = bucket
        self.prefix = prefix.strip("/")

    def _key(self, key: str) -> str:
        safe = key.replace(os.sep, "_").replace(":", "_")
        return f"{self.prefix}/{safe}.json" if self.prefix else f"{safe}.json"

    @staticmethod
    def _err(ex: Exception) -> tuple[str | None, int | None]:
        resp = getattr(ex, "response", None) or {}
        err = resp.get("Error") or {}
        meta = resp.get("ResponseMetadata") or {}
        return err.get("Code"), meta.get("HTTPStatusCode")

    @staticmethod
    def _definitive_loss(code: str | None, status: int | None) -> bool:
        """412 PreconditionFailed: the service EVALUATED the
        precondition against a state that fails it — the key exists
        (put_if_absent) or its ETag moved (put/delete_if_match). A
        true lost race; returning False without a retry is correct."""
        return code == "PreconditionFailed" or status == 412

    @staticmethod
    def _transient_conflict(code: str | None, status: int | None) -> bool:
        """409 ConditionalRequestConflict: a CONCURRENT conditional
        request on the same key was mid-evaluation, so S3 rejected
        OURS without evaluating it — and per AWS semantics the
        competing write may itself have failed. Unlike 412 this says
        nothing about the key's state, so treating it as a definitive
        loss can convert a transient collision into a spurious
        CommitLockLostError abort of a healthy commit or renewal (the
        r14 ADVICE finding). Each primitive retries its conditional
        request ONCE on 409 (fresh read/ETag where the op has one)
        before conceding False — bounded, so persistent contention
        still resolves to the caller's own retry loop (acquire
        re-observes; a claim abort is loud and retryable)."""
        return code == "ConditionalRequestConflict" or status == 409

    def _lost_race(self, code: str | None, status: int | None) -> bool:
        return self._definitive_loss(code, status) or self._transient_conflict(
            code, status
        )

    def put_if_absent(self, key: str, value: dict) -> bool:
        for attempt in (0, 1):
            try:
                self._client.put_object(
                    Bucket=self.bucket,
                    Key=self._key(key),
                    Body=json.dumps(value).encode(),
                    IfNoneMatch="*",
                )
                return True
            except Exception as ex:  # noqa: BLE001 — typed by error code
                code, status = self._err(ex)
                if self._definitive_loss(code, status):
                    return False  # key exists — truly lost
                if self._transient_conflict(code, status) and attempt == 0:
                    continue  # competing write may have failed: retry once
                if self._transient_conflict(code, status):
                    return False  # still colliding — caller re-observes
                raise
        return False  # unreachable; keeps the type checker honest

    def get(self, key: str) -> dict | None:
        try:
            resp = self._client.get_object(
                Bucket=self.bucket, Key=self._key(key)
            )
            return json.loads(resp["Body"].read())
        except Exception as ex:  # noqa: BLE001
            code, status = self._err(ex)
            if code in ("NoSuchKey", "404") or status == 404:
                return None
            raise

    def delete_if_match(self, key: str, expected: dict) -> bool:
        k = self._key(key)
        # 409 on the conditional delete loops back to a FRESH
        # read-compare-delete once (the ETag may have moved while the
        # competing request held the key) — see _transient_conflict
        for attempt in (0, 1):
            try:
                resp = self._client.get_object(Bucket=self.bucket, Key=k)
                cur = json.loads(resp["Body"].read())
                etag = resp["ETag"]
            except Exception as ex:  # noqa: BLE001
                code, status = self._err(ex)
                if code in ("NoSuchKey", "404") or status == 404:
                    return False
                raise
            if cur != expected:
                return False
            try:
                self._client.delete_object(
                    Bucket=self.bucket, Key=k, IfMatch=etag
                )
                return True
            except Exception as ex:  # noqa: BLE001
                code, status = self._err(ex)
                if self._transient_conflict(code, status) and attempt == 0:
                    continue
                if (
                    self._lost_race(code, status)
                    or code in ("NoSuchKey", "404")
                    or status == 404
                ):
                    return False  # another stealer won, or it mutated mid-read
                if code == "NotImplemented" or status == 501:
                    raise NotImplementedError(
                        f"S3CASStore: bucket {self.bucket!r} rejected the "
                        "conditional DeleteObject (If-Match) — that "
                        "precondition is a DIRECTORY-bucket (S3 Express) "
                        "feature; general-purpose buckets support only "
                        "conditional writes. Point the lock namespace at a "
                        "directory bucket, or use GCSCASStore / a DynamoDB "
                        "provider"
                    ) from ex
                raise
        return False

    def put_if_match(self, key: str, expected: dict, value: dict) -> bool:
        """Conditional replace (lease renewal): GetObject for value +
        ETag, compare, then ``PutObject(IfMatch=<that etag>)``.
        Conditional WRITES — unlike the steal's conditional delete —
        work on general-purpose buckets, so renewal has no
        directory-bucket caveat. A steal or concurrent renewal landing
        between read and put changes the ETag → the loser's 412 →
        False; a 409 (conflict with a request that may itself have
        failed) re-runs the read-compare-put once before conceding."""
        k = self._key(key)
        for attempt in (0, 1):
            try:
                resp = self._client.get_object(Bucket=self.bucket, Key=k)
                cur = json.loads(resp["Body"].read())
                etag = resp["ETag"]
            except Exception as ex:  # noqa: BLE001
                code, status = self._err(ex)
                if code in ("NoSuchKey", "404") or status == 404:
                    return False
                raise
            if cur != expected:
                return False
            try:
                self._client.put_object(
                    Bucket=self.bucket,
                    Key=k,
                    Body=json.dumps(value).encode(),
                    IfMatch=etag,
                )
                return True
            except Exception as ex:  # noqa: BLE001
                code, status = self._err(ex)
                if self._transient_conflict(code, status) and attempt == 0:
                    continue
                if (
                    self._lost_race(code, status)
                    or code in ("NoSuchKey", "404")
                    or status == 404
                ):
                    return False  # a concurrent steal/renewal won
                raise
        return False


class DynamoDBCASStore:
    """The DynamoDB member of the triad — the CANONICAL shape (this is
    literally what Delta-on-S3's DynamoDB LogStore and Iceberg's
    DynamoDbLockManager do, and the posture this module's table cites):

    - ``put_if_absent`` → ``PutItem`` with
      ``ConditionExpression=attribute_not_exists(lock_key)``: exactly
      one creator; the loser's ``ConditionalCheckFailedException`` →
      False.
    - ``get`` → ``GetItem`` with ``ConsistentRead=True`` (an eventually
      consistent read could miss a just-won lease and double-admit).
    - ``delete_if_match`` → conditional ``DeleteItem`` on the FULL
      stored value: two stealers race, DynamoDB admits exactly one
      (the second's condition fails on the now-absent item). Unlike
      S3, conditional deletes work on every table — no bucket-type
      caveat.

    The item schema is one partition key (``lock_key``, S) plus the
    JSON-rendered lease (``value_json``, S). Gated like the other real
    clients: constructing without ``boto3`` raises a loud
    ``NotImplementedError``; ``client`` injects anything speaking the
    ``put_item`` / ``get_item`` / ``delete_item`` low-level API with
    botocore-shaped errors (``response["Error"]["Code"] ==
    "ConditionalCheckFailedException"``).
    """

    def __init__(self, table: str, client=None) -> None:
        if client is None:
            try:
                import boto3
            except ImportError as ex:
                raise NotImplementedError(
                    "DynamoDBCASStore requires boto3 (not installed) and "
                    "AWS credentials; inject a client, or use the "
                    "CASStore emulation for local runs"
                ) from ex
            client = boto3.client("dynamodb")
        self._client = client
        self.table = table

    @staticmethod
    def _cond_failed(ex: Exception) -> bool:
        resp = getattr(ex, "response", None) or {}
        return (resp.get("Error") or {}).get(
            "Code"
        ) == "ConditionalCheckFailedException"

    def put_if_absent(self, key: str, value: dict) -> bool:
        try:
            self._client.put_item(
                TableName=self.table,
                Item={
                    "lock_key": {"S": key},
                    "value_json": {"S": json.dumps(value, sort_keys=True)},
                },
                ConditionExpression="attribute_not_exists(lock_key)",
            )
            return True
        except Exception as ex:  # noqa: BLE001 — typed by error code
            if self._cond_failed(ex):
                return False
            raise

    def get(self, key: str) -> dict | None:
        resp = self._client.get_item(
            TableName=self.table,
            Key={"lock_key": {"S": key}},
            ConsistentRead=True,
        )
        item = resp.get("Item")
        if not item:
            return None
        return json.loads(item["value_json"]["S"])

    def delete_if_match(self, key: str, expected: dict) -> bool:
        try:
            self._client.delete_item(
                TableName=self.table,
                Key={"lock_key": {"S": key}},
                ConditionExpression="value_json = :v",
                ExpressionAttributeValues={
                    ":v": {"S": json.dumps(expected, sort_keys=True)}
                },
            )
            return True
        except Exception as ex:  # noqa: BLE001
            if self._cond_failed(ex):
                return False  # absent, or another stealer/renewal won
            raise

    def put_if_match(self, key: str, expected: dict, value: dict) -> bool:
        """Conditional replace (lease renewal): one ``PutItem`` whose
        condition pins the FULL stored value — no read-then-write
        window at all; DynamoDB serializes it against a concurrent
        steal's conditional delete (exactly one succeeds). The same
        shape Iceberg's DynamoDbLockManager uses for its heartbeat."""
        try:
            self._client.put_item(
                TableName=self.table,
                Item={
                    "lock_key": {"S": key},
                    "value_json": {"S": json.dumps(value, sort_keys=True)},
                },
                ConditionExpression="value_json = :v",
                ExpressionAttributeValues={
                    ":v": {"S": json.dumps(expected, sort_keys=True)}
                },
            )
            return True
        except Exception as ex:  # noqa: BLE001
            if self._cond_failed(ex):
                return False  # absent, or a concurrent steal/renewal won
            raise


class CASLockProvider:
    """Lease-based mutual exclusion over any store with the four
    conditional primitives (see the module docstring) — the one
    commit-lock provider. ``acquire(mdir)`` blocks until it holds the
    lease scoped to ``mdir`` (RuntimeError on timeout),
    ``release(handle)`` drops only a lease the caller still owns;
    ``verify``/``renew`` guard long critical sections and
    ``claim_version``/``read_claim``/``drop_claim`` keep the per-version
    commit-point ledger in the same store. ``lease_sec`` is the width
    THIS holder declares; whether to steal is always judged by the
    width the current holder declared.
    """

    def __init__(
        self,
        store,
        lease_sec: float = 60.0,
        timeout_sec: float = 120.0,
        poll_sec: float = 0.02,
    ) -> None:
        self.store = store
        self.lease_sec = lease_sec
        self.timeout_sec = timeout_sec
        self.poll_sec = poll_sec

    def _lease_key(self, mdir: str) -> str:
        return os.path.join(os.path.abspath(mdir), "_commit.lock")

    def acquire(self, mdir: str) -> tuple[str, dict]:
        key = self._lease_key(mdir)
        owner = uuid.uuid4().hex
        deadline = time.monotonic() + self.timeout_sec
        while True:
            # checked at the TOP so every path — steal retries and
            # released-between-put-and-get loops included — is bounded,
            # not just the patient live-lease wait below
            if time.monotonic() > deadline:
                raise RuntimeError(
                    f"manifest commit: CAS lease {key!r} not acquired "
                    f"within {self.timeout_sec}s — a committer is stuck "
                    "or the store is thrashing"
                )
            lease = {"owner": owner, "expires_at": time.time() + self.lease_sec}
            try:
                if self.store.put_if_absent(key, lease):
                    return (key, lease)
            except TimeoutError:
                # ack lost — the put may still have WON server-side;
                # re-inspect before treating it as a conflict
                cur = self.store.get(key)
                if cur is not None and cur.get("owner") == owner:
                    return (key, cur)
            cur = self.store.get(key)
            if cur is None:
                continue  # holder released between put and get — retry now
            if cur.get("owner") == owner:
                return (key, cur)  # our own lost-ack put won
            if time.time() > float(cur.get("expires_at", 0)):
                # expired lease: conditional-delete the EXACT value we
                # judged stale — exactly one stealer's delete matches,
                # losers re-observe whatever lease exists next
                self.store.delete_if_match(key, cur)
                continue
            if time.monotonic() > deadline:
                raise RuntimeError(
                    f"manifest commit: CAS lease {key!r} held for "
                    f">{self.timeout_sec}s — a committer is stuck inside "
                    "what should be a microsecond metadata step"
                )
            time.sleep(self.poll_sec)

    def verify(self, handle: tuple[str, dict]) -> bool:
        """True iff the lease is still OURS and still LIVE. Called by
        the manifest layer immediately before every pointer swap, so a
        holder paused past ``lease_sec`` (GC stall, slow FS) fails
        loudly instead of last-writer-winning over a thief's commit —
        the Delta DynamoDB-LogStore / Iceberg lock-manager posture.

        An EXPIRED-but-not-yet-stolen lease also fails: expiry means
        any acquirer may steal at any instant, so the lease confers no
        ownership beyond ``expires_at`` — treating it as held would
        reopen the race this check closes, just with worse timing.
        """
        key, lease = handle
        cur = self.store.get(key)
        return (
            cur is not None
            and cur.get("owner") == lease.get("owner")
            and time.time() <= float(cur.get("expires_at", 0))
        )

    def renew(
        self, handle: tuple[str, dict], min_remaining_frac: float = 0.5
    ) -> tuple[str, dict] | None:
        """Extend our own lease — the opt-in heartbeat for maintenance
        commits that legitimately outlive ``lease_sec`` (vacuum's
        destructive phase, a large ingest-history rollup). One atomic
        ``put_if_match`` of the EXACT lease we hold with an extended
        ``expires_at``: a concurrent steal's conditional delete and
        this conditional replace race at the store and exactly one
        wins — a renewed lease cannot be the one a stealer deleted,
        and a stolen lease cannot be renewed (value differs → False →
        the caller aborts loudly via CommitLockLostError instead of
        continuing on a lock it no longer holds).

        Cheap-when-early: with more than ``min_remaining_frac`` of the
        lease width still ahead, returns the handle unchanged without
        touching the store, so hot loops can call it per iteration.
        Returns the NEW handle (callers must thread it through to
        verify/release) or ``None`` when the lease is no longer ours.
        An EXPIRED-but-not-yet-stolen lease may still renew — that is
        the point: the store atomically arbitrates renewal vs steal,
        so a slow-but-alive holder wins or loses cleanly, never
        silently."""
        key, lease = handle
        if time.time() < (
            float(lease.get("expires_at", 0))
            - self.lease_sec * min_remaining_frac
        ):
            return handle
        new = {
            "owner": lease["owner"],
            "expires_at": time.time() + self.lease_sec,
        }
        if self.store.put_if_match(key, lease, new):
            return (key, new)
        return None

    def _claim_key(self, mdir: str, version: int) -> str:
        return os.path.join(os.path.abspath(mdir), f"claim-{version:010d}")

    def claim_version(self, mdir: str, version: int, manifest_name: str) -> bool:
        """The conditional COMMIT POINT (see manifest.commit): exactly
        one committer per manifest version wins this ``put_if_absent``
        — the Delta-on-S3 DynamoDB-LogStore shape, where the commit
        itself is the conditional write rather than a plain pointer
        rename guarded by a check. True = this committer owns the
        version. A lost ack (the at-least-once client window) is
        resolved the same way acquire resolves it: re-read and check
        whether OUR put is the one that landed."""
        key = self._claim_key(mdir, version)
        value = {"manifest": manifest_name}
        try:
            return self.store.put_if_absent(key, value)
        except TimeoutError:
            return self.store.get(key) == value

    def read_claim(self, mdir: str, version: int) -> str | None:
        """The manifest filename a committed-but-unswapped claim names
        (crash-recovery roll-forward input), or None."""
        cur = self.store.get(self._claim_key(mdir, version))
        return cur.get("manifest") if cur else None

    def drop_claim(self, mdir: str, version: int) -> None:
        """Retention: delete the claim entry for a vacuumed version."""
        key = self._claim_key(mdir, version)
        cur = self.store.get(key)
        if cur is not None:
            self.store.delete_if_match(key, cur)

    def release(self, handle: tuple[str, dict]) -> None:
        key, lease = handle
        # delete only OUR lease value: if it expired and was stolen,
        # the thief's lease differs and this is a no-op
        self.store.delete_if_match(key, lease)
