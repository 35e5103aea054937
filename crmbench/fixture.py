"""Seeded ActiveCampaign v3 fixture and the in-process server that serves it.

The server follows the shape of the connector tests' mock: collections under
``/api/3/<name>`` with ``limit``/``offset`` paging, ``meta.total`` and
``id_greater`` keyset ordering; child collections under
``/api/3/contacts/<id>/<child>`` and ``/api/3/deals/<id>/<child>``.

The generator is a pure function of its seed. Contacts come in batches with
monotone ids: batch 0 is the backfill, later batches are the incremental
runs, and ``publish(k)`` makes batches ``0..k`` visible. Per contact, child
counts are heavy-tailed: one "whale" contact per batch holds more than one
page (:data:`PAGE_LIMIT`) in its event endpoints, and more ``activities``
alone than the chatter mart keeps per contact (:data:`MAX_EVENTS`).
Foreign-id columns carry the sentinels ``""`` and ``"0"``; some child rows
repeat verbatim and some keys come in two versions.

The server counts requests, payload bytes served, and the time and CPU time
its handlers spent, so the benchmark can attribute fetch cost from outside
the program and keep the fixture's own CPU out of the program's.
"""

from __future__ import annotations

import hashlib
import json
import random
import threading
import time
import urllib.parse
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

#: child endpoint -> (fields in generation order, timestamp field)
CHILD_FIELDS: dict[str, tuple[list[str], str | None]] = {
    "activities": (["id", "tstamp", "reference_type", "description", "user"], "tstamp"),
    "emailActivities": (["id", "tstamp", "type", "campaignid", "messageid"], "tstamp"),
    "contactNotes": (["id", "cdate", "note", "userid"], "cdate"),
    "contactTags": (["id", "cdate", "tag"], "cdate"),
    "contactLists": (["id", "udate", "list"], "udate"),
    "contactLogs": (["id", "tstamp", "action", "message"], "tstamp"),
    "bounceLogs": (["id", "tstamp", "reason"], "tstamp"),
    "trackingLogs": (["id", "tstamp", "url"], "tstamp"),
    "geoIps": (["id", "tstamp", "ip", "country"], "tstamp"),
    "contactGoals": (["id", "cdate", "name"], "cdate"),
    "contactData": (
        ["id", "created_timestamp", "updated_timestamp", "geoCountry2", "geoCity", "geoIp4"],
        "updated_timestamp",
    ),
    "scoreValues": (["id", "tstamp", "score", "scoreValue"], "tstamp"),
    "accountContacts": (["id", "cdate", "account"], "cdate"),
    "contactTasks": (["id", "udate", "title", "note", "duedate", "userid"], "udate"),
    "contactAutomations": (["id", "lastdate", "automation", "seriesid", "status"], "lastdate"),
    "automationEntryCounts": (["id", "name", "entered", "status", "hidden"], None),
}
DEAL_FIELDS: dict[str, tuple[list[str], str]] = {
    "dealNotes": (["id", "cdate", "note"], "cdate"),
    "dealTasks": (["id", "udate", "title", "duedate"], "udate"),
    "dealActivities": (["id", "cdate", "d_stageid", "d_groupid", "dataAction", "userid"], "cdate"),
}
DIM_SIZES = {
    "campaigns": 24, "messages": 20, "automations": 10, "tags": 16, "lists": 8,
    "users": 6, "fields": 5, "dealGroups": 3, "dealStages": 6, "accounts": 10, "scores": 4,
}
#: the pipeline's page size and per-contact event cap (``PipelineConfig``
#: defaults); whale contacts exceed both
PAGE_LIMIT = 100
MAX_EVENTS = 500
#: persist keys of each gold table (children default to ``id, contact_id``)
KEY_COLS = {"contacts": ["contact_id"], **{d: ["id", "deal_id"] for d in DEAL_FIELDS}}
WORDS = "open click call demo quote renew churn trial upgrade invoice meeting follow up".split()
SENTINELS = ("", "0")


class ACFixture:
    """All payload rows of one seeded fixture, plus what the lake must hold."""

    def __init__(self, seed: int, batch_sizes: list[int]):
        self.seed = seed
        self._rng = random.Random(seed)
        self.collections: dict[str, list[dict]] = {}
        # child -> parent id -> rows
        self.children: dict[str, dict[str, list[dict]]] = {
            c: {} for c in [*CHILD_FIELDS, "deals", *DEAL_FIELDS]
        }
        self.batches: list[list[dict]] = []
        self._next_child_id = 0
        self._make_dims()
        cid = 1000
        for size in batch_sizes:
            # one whale per batch at a seeded place: every pipeline run pages
            # and hits the cap, and the seed does not change how much it does
            whale_at = self._rng.randrange(size)
            batch = []
            for i in range(size):
                cid += self._rng.randint(1, 3)
                batch.append(self._make_contact(cid, i == whale_at))
            self.batches.append(batch)
        self.publish(0)

    # ------------------------------------------------------------ generation

    def _ts(self) -> str:
        r = self._rng
        return f"2024-{r.randint(1, 12):02d}-{r.randint(1, 28):02d} {r.randint(0, 23):02d}:{r.randint(0, 59):02d}:{r.randint(0, 59):02d}"

    def _ref(self, dim: str) -> str:
        """A foreign id into ``dim``, sometimes a sentinel."""
        if self._rng.random() < 0.08:
            return self._rng.choice(SENTINELS)
        return str(self._rng.randint(1, DIM_SIZES[dim]))

    def _make_dims(self) -> None:
        r = self._rng
        c = self.collections
        c["campaigns"] = []
        for i in range(1, DIM_SIZES["campaigns"] + 1):
            series = r.choice(["", "0", str(r.randint(1, DIM_SIZES["automations"]))])
            links = r.choice([
                "",
                "not json",
                json.dumps({"automation": f"https://x/api/3/automations/{r.randint(1, 10)}"}),
            ])
            c["campaigns"].append({
                "id": i, "name": f"Campaign {i}", "message_id": self._ref("messages"),
                "seriesid": series, "links": links,
            })
        c["messages"] = [{"id": i, "subject": f"Subject {i}"} for i in range(1, DIM_SIZES["messages"] + 1)]
        c["automations"] = [{"id": i, "name": f"Flow {i}"} for i in range(1, DIM_SIZES["automations"] + 1)]
        c["tags"] = [{"id": i, "tag": f"tag{i}"} for i in range(1, DIM_SIZES["tags"] + 1)]
        c["lists"] = [{"id": i, "name": f"List {i}"} for i in range(1, DIM_SIZES["lists"] + 1)]
        c["users"] = [
            {"id": i, "firstName": f"U{i}" if i % 3 else "", "lastName": f"Ops{i}", "email": f"u{i}@x.com"}
            for i in range(1, DIM_SIZES["users"] + 1)
        ]
        c["fields"] = [{"id": i, "title": f"Field {i}", "type": "text"} for i in range(1, DIM_SIZES["fields"] + 1)]
        c["dealGroups"] = [{"id": i, "title": f"Pipeline {i}"} for i in range(1, DIM_SIZES["dealGroups"] + 1)]
        c["dealStages"] = [{"id": i, "title": f"Stage {i}"} for i in range(1, DIM_SIZES["dealStages"] + 1)]
        c["accounts"] = [{"id": i, "name": f"Account {i}"} for i in range(1, DIM_SIZES["accounts"] + 1)]
        c["scores"] = [{"id": i, "name": f"Score {i}"} for i in range(1, DIM_SIZES["scores"] + 1)]

    def _count(self, whale: bool, child: str) -> int:
        """Heavy-tailed child count: geometric body; whales page, and their
        ``activities`` alone pass the per-contact event cap."""
        r = self._rng
        if child == "contactData":
            return int(r.random() < 0.8)
        n = 0
        while r.random() < 0.55:
            n += 1
        if whale and child == "activities":
            n += r.randint(MAX_EVENTS + 20, MAX_EVENTS + 120)
        elif whale and child in ("emailActivities", "trackingLogs"):
            n += r.randint(PAGE_LIMIT + 80, PAGE_LIMIT + 200)
        return n

    def _row(self, child: str, fields: list[str], ts_field: str | None) -> dict:
        r = self._rng
        self._next_child_id += 1
        row: dict[str, str] = {}
        for f in fields:
            if f == "id":
                v = f"{child[:3]}{self._next_child_id}"
            elif f == ts_field or f in ("cdate", "udate", "duedate", "created_timestamp", "adddate"):
                v = self._ts()
            elif f in ("user", "userid"):
                v = self._ref("users")
            elif f == "campaignid":
                v = self._ref("campaigns")
            elif f == "messageid":
                v = self._ref("messages")
            elif f == "tag":
                v = self._ref("tags")
            elif f == "list":
                v = self._ref("lists")
            elif f in ("automation", "seriesid"):
                v = self._ref("automations")
            elif f == "account":
                v = self._ref("accounts")
            elif f == "score":
                v = self._ref("scores")
            elif f == "d_stageid":
                v = self._ref("dealStages")
            elif f == "d_groupid":
                v = self._ref("dealGroups")
            elif f in ("status", "hidden"):
                v = r.choice(["0", "1", "2"])
            else:
                v = " ".join(r.choice(WORDS) for _ in range(r.randint(1, 4)))
            row[f] = v
        return row

    def _rows(self, child: str, fields: list[str], ts_field: str | None, n: int) -> list[dict]:
        rows = [self._row(child, fields, ts_field) for _ in range(n)]
        if rows and self._rng.random() < 0.15:
            rows.append(dict(self._rng.choice(rows)))  # verbatim repeat
        if rows and ts_field and self._rng.random() < 0.15:
            newer = dict(self._rng.choice(rows))  # same key, second version
            newer[ts_field] = self._ts()
            rows.append(newer)
        return rows

    def _make_contact(self, cid: int, whale: bool) -> dict:
        r = self._rng
        first = r.choice(["Ada", "Grace", "Alan", "", "Edsger"])
        contact = {
            "id": cid,
            "email": "" if r.random() < 0.05 else f"c{cid}@x.com",
            "first_name": first,
            "last_name": "" if not first else r.choice(["Lovelace", "Hopper", "Turing"]),
            "udate": self._ts(),
        }
        key = str(cid)
        for child, (fields, ts_field) in CHILD_FIELDS.items():
            if child == "automationEntryCounts":
                autos = r.sample(range(1, DIM_SIZES["automations"] + 1), self._count(False, child) % 4)
                rows = []
                for a in autos:
                    row = self._row(child, fields, ts_field)
                    row["id"] = str(a)  # the entry count's id IS the automation id
                    rows.append(row)
            else:
                rows = self._rows(child, fields, ts_field, self._count(whale, child))
            if rows:
                self.children[child][key] = rows
        deals = self._rows("deals", ["id", "title", "stage", "group", "mdate"], "mdate", self._count(False, "deals") % 4)
        for d in deals:
            d["stage"] = self._ref("dealStages")
            d["group"] = self._ref("dealGroups")
        if deals:
            self.children["deals"][key] = deals
        for d in dict.fromkeys(d["id"] for d in deals):  # first-seen order, not hash order
            for dchild, (fields, ts_field) in DEAL_FIELDS.items():
                rows = self._rows(dchild, fields, ts_field, self._count(False, dchild) % 4)
                if rows:
                    self.children[dchild][d] = rows
        return contact

    # ------------------------------------------------------------- published

    def publish(self, upto: int) -> None:
        """Make contact batches ``0..upto`` visible to the API."""
        self.collections["contacts"] = [c for b in self.batches[: upto + 1] for c in b]

    def max_contact_id(self) -> int:
        return max(c["id"] for c in self.collections["contacts"])

    def expected_keys(self) -> dict[str, int]:
        """Distinct persist keys per gold table over the visible contacts."""
        cids = [str(c["id"]) for c in self.collections["contacts"]]
        out = {"contacts": len(set(cids))}
        for child in [*CHILD_FIELDS, "deals"]:
            out[child] = len({(r["id"], cid) for cid in cids for r in self.children[child].get(cid, [])})
        deal_ids = {r["id"] for cid in cids for r in self.children["deals"].get(cid, [])}
        for dchild in DEAL_FIELDS:
            out[dchild] = len({(r["id"], d) for d in deal_ids for r in self.children[dchild].get(d, [])})
        return out

    def digest(self) -> str:
        """sha256 over every payload row, for the determinism check."""
        h = hashlib.sha256()
        h.update(json.dumps(self.collections, sort_keys=True).encode())
        h.update(json.dumps(self.children, sort_keys=True).encode())
        h.update(json.dumps(self.batches, sort_keys=True).encode())
        return h.hexdigest()

    # ---------------------------------------------------------------- paging

    def page(self, rows: list[dict], params: dict[str, str]) -> tuple[list[dict], int]:
        out = rows
        for k, v in params.items():
            if k.startswith("filters[") and k.endswith("]"):
                field = k[8:-1]
                out = [r for r in out if str(r.get(field)) == v]
        if "id_greater" in params:
            cur = int(params["id_greater"])
            out = sorted((r for r in out if int(r["id"]) > cur), key=lambda r: int(r["id"]))
        limit = int(params.get("limit", 20))
        offset = int(params.get("offset", 0))
        return out[offset : offset + limit], len(out)

    def respond(self, path: str) -> tuple[int, bytes]:
        """(status, body) for one GET ``path``."""
        parsed = urllib.parse.urlparse(path)
        params = {k: v[0] for k, v in urllib.parse.parse_qs(parsed.query).items()}
        parts = [p for p in parsed.path.split("/") if p]
        if len(parts) == 3 and parts[0] == "api":
            name, rows = parts[2], self.collections.get(parts[2])
        elif len(parts) == 5 and parts[0] == "api":
            name, table = parts[4], self.children.get(parts[4])
            rows = None if table is None else table.get(parts[3], [])
        else:
            return 404, b""
        if rows is None:
            return 404, b""
        page, total = self.page(rows, params)
        return 200, json.dumps({name: page, "meta": {"total": total}}).encode()


class FixtureServer:
    """Threaded HTTP server over an :class:`ACFixture` with request counters."""

    def __init__(self, fixture: ACFixture):
        self.fixture = fixture
        self.requests = 0
        self.bytes_served = 0
        self.busy_s = 0.0
        self.cpu_s = 0.0
        self._lock = threading.Lock()
        self._server: ThreadingHTTPServer | None = None
        self._thread: threading.Thread | None = None

    def start(self) -> str:
        srv = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *args):
                pass

            def do_GET(self):
                t0, c0 = time.perf_counter(), time.thread_time()
                status, body = srv.fixture.respond(self.path)
                self.send_response(status)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)
                dt, dc = time.perf_counter() - t0, time.thread_time() - c0
                with srv._lock:
                    srv.requests += 1
                    srv.bytes_served += len(body)
                    srv.busy_s += dt
                    srv.cpu_s += dc

        self._server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self._server.daemon_threads = True
        self._thread = threading.Thread(target=self._server.serve_forever, daemon=True)
        self._thread.start()
        return f"http://127.0.0.1:{self._server.server_port}"

    def counters(self) -> dict[str, float]:
        with self._lock:
            return {"requests": self.requests, "bytes_served": self.bytes_served,
                    "busy_s": self.busy_s, "cpu_s": self.cpu_s}

    def stop(self) -> None:
        if self._server is not None:
            self._server.shutdown()
            self._server.server_close()
            self._thread.join(timeout=10)
            self._server = None
