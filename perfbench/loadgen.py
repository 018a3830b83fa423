"""Closed-loop Flight SQL load generator.

Runs ``CLIENTS`` client connections (threads, one ``pyarrow.flight`` client each)
against a Flight SQL server. Each client sends its next request only
after the previous reply's last batch arrived, cycling through the
request mix in an order drawn from the seed. A client starts no new pass
of the mix once the window has closed but always finishes the pass it is
in, so every request type is sent equally often. Flight SQL commands are
protobuf messages wrapped in ``google.protobuf.Any`` (FlightSql.proto);
the few this client sends are encoded here by hand.

Run as a program it writes one JSON file of per-request records::

    python3 perfbench/loadgen.py --port P --seed S --seconds T \
        --data-dir DIR --plan-file F --out OUT
"""

from __future__ import annotations

import argparse
import json
import random
import threading
import time

_TYPE_PREFIX = "type.googleapis.com/arrow.flight.protocol.sql."

#: Request types of the mix, in a fixed canonical order.
TYPES = (
    "point_lookup",
    "filtered_agg",
    "join_agg",
    "range_scan",
    "substrait",
    "prepared",
    "get_tables",
)

PREPARED_SQL = (
    "SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice), 2) AS total "
    "FROM orders WHERE o_custkey = ? GROUP BY o_orderstatus"
)

#: Concurrent client connections: one per core of the 4-core reference host.
CLIENTS = 4

#: Per-call deadline; a request that misses it counts as failed.
CALL_TIMEOUT_S = 30.0


# -- protobuf wire encoding (varint + length-delimited fields) --------------

def _varint(v: int) -> bytes:
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _field_bytes(num: int, payload: bytes) -> bytes:
    return _varint((num << 3) | 2) + _varint(len(payload)) + payload


def _any(msg_name: str, value: bytes) -> bytes:
    return _field_bytes(1, (_TYPE_PREFIX + msg_name).encode()) + _field_bytes(2, value)


def _fields(buf: bytes) -> dict[int, bytes]:
    """Length-delimited fields of one message (last occurrence wins);
    varint fields are skipped."""
    out, i = {}, 0
    while i < len(buf):
        key, i = _read_varint(buf, i)
        num, wt = key >> 3, key & 7
        if wt == 2:
            n, i = _read_varint(buf, i)
            out[num] = buf[i:i + n]
            i += n
        elif wt == 0:
            _, i = _read_varint(buf, i)
        else:
            raise ValueError(f"unsupported wire type {wt}")
    return out


def _read_varint(buf: bytes, i: int) -> tuple[int, int]:
    shift = val = 0
    while True:
        b = buf[i]
        i += 1
        val |= (b & 0x7F) << shift
        if not b & 0x80:
            return val, i
        shift += 7


def statement(sql: str) -> bytes:
    """CommandStatementQuery{query=1}."""
    return _any("CommandStatementQuery", _field_bytes(1, sql.encode()))


def substrait_command(plan: bytes) -> bytes:
    """CommandStatementSubstraitPlan{plan=1: SubstraitPlan{plan=1, version=2}}."""
    inner = _field_bytes(1, plan) + _field_bytes(2, b"0.44.0")
    return _any("CommandStatementSubstraitPlan", _field_bytes(1, inner))


def get_tables_command() -> bytes:
    return _any("CommandGetTables", b"")


def prepared_command(handle: bytes) -> bytes:
    return _any("CommandPreparedStatementQuery", _field_bytes(1, handle))


def command_name(cmd: bytes) -> str:
    """The Flight SQL message name inside an Any-wrapped command."""
    url = _fields(cmd).get(1, b"").decode()
    return url[len(_TYPE_PREFIX):] if url.startswith(_TYPE_PREFIX) else url


def statement_sql(cmd: bytes) -> str | None:
    """The query text of a CommandStatementQuery, else None."""
    f = _fields(cmd)
    if f.get(1, b"").decode() != _TYPE_PREFIX + "CommandStatementQuery":
        return None
    return _fields(f.get(2, b"")).get(1, b"").decode()


# -- request parameters -----------------------------------------------------

class Params:
    """Seeded request parameters, drawn from the data so lookups hit."""

    def __init__(self, data_dir: str):
        import pyarrow.dataset as ds

        orders = ds.dataset(f"{data_dir}/orders.parquet", format="parquet").to_table(
            columns=["o_orderkey", "o_custkey"]
        )
        self.order_keys = sorted(orders.column("o_orderkey").to_pylist())
        self.cust_keys = sorted(set(orders.column("o_custkey").to_pylist()))

    def sql(self, kind: str, rng: random.Random) -> str:
        if kind == "point_lookup":
            k = rng.choice(self.order_keys)
            return (
                "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
                f"o_orderpriority FROM orders WHERE o_orderkey = {k}"
            )
        if kind == "filtered_agg":
            d = rng.randrange(0, 9) / 100
            q = rng.randrange(10, 50)
            return (
                "SELECT l_returnflag, l_linestatus, count(*) AS n, "
                "round(sum(l_quantity), 2) AS qty, "
                "round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue "
                f"FROM lineitem WHERE l_discount BETWEEN {d:.2f} AND {d + 0.02:.2f} "
                f"AND l_quantity < {q} GROUP BY l_returnflag, l_linestatus"
            )
        if kind == "join_agg":
            p = rng.randrange(1000, 300000, 1000)
            return (
                "SELECT c_mktsegment, count(*) AS n, round(sum(o_totalprice), 2) AS total "
                "FROM customer JOIN orders ON c_custkey = o_custkey "
                f"WHERE o_totalprice > {p} GROUP BY c_mktsegment"
            )
        if kind == "range_scan":
            keys = self.order_keys
            width = len(keys) // 4
            i = rng.randrange(0, len(keys) - width)
            return (
                "SELECT l_orderkey, l_partkey, l_suppkey, l_quantity, "
                "l_extendedprice, l_discount FROM lineitem "
                f"WHERE l_orderkey BETWEEN {keys[i]} AND {keys[i + width]}"
            )
        raise ValueError(kind)

    def cust_key(self, rng: random.Random) -> int:
        return rng.choice(self.cust_keys)


# -- one client -------------------------------------------------------------

class Client:
    """One Flight SQL connection."""

    def __init__(self, location: str, plan: bytes):
        import pyarrow.flight as flight

        self.flight = flight
        self.conn = flight.connect(location)
        self.opts = flight.FlightCallOptions(timeout=CALL_TIMEOUT_S)
        self.plan = plan
        self.handle: bytes | None = None

    def prepare(self) -> None:
        body = _any("ActionCreatePreparedStatementRequest", _field_bytes(1, PREPARED_SQL.encode()))
        results = list(self.conn.do_action(("CreatePreparedStatement", body), options=self.opts))
        result = _fields(_fields(results[0].body.to_pybytes()).get(2, b""))
        self.handle = result.get(1, b"")

    def close(self) -> None:
        self.conn.close()

    def _bind(self, value: int) -> None:
        import pyarrow as pa

        batch = pa.record_batch([pa.array([value], pa.int64())], names=["parameter_1"])
        desc = self.flight.FlightDescriptor.for_command(prepared_command(self.handle))
        writer, reader = self.conn.do_put(desc, batch.schema, options=self.opts)
        writer.write_batch(batch)
        writer.done_writing()
        reader.read()
        writer.close()

    def command(self, kind: str, params: Params, rng: random.Random) -> tuple[bytes, str | None]:
        """The command bytes of one request and, for SQL text, the text."""
        if kind == "substrait":
            return substrait_command(self.plan), None
        if kind == "get_tables":
            return get_tables_command(), None
        if kind == "prepared":
            key = params.cust_key(rng)
            self._bind(key)
            return prepared_command(self.handle), PREPARED_SQL.replace("?", str(key))
        sql = params.sql(kind, rng)
        return statement(sql), sql

    def fetch(self, cmd: bytes) -> tuple[object, float, int]:
        """GetFlightInfo then DoGet every endpoint; returns (table, time
        GetFlightInfo returned, endpoint count)."""
        import pyarrow as pa

        info = self.conn.get_flight_info(
            self.flight.FlightDescriptor.for_command(cmd), options=self.opts
        )
        t_info = time.time()
        parts = [self.conn.do_get(ep.ticket, options=self.opts).read_all() for ep in info.endpoints]
        table = pa.concat_tables(parts) if parts else info.schema.empty_table()
        return table, t_info, len(info.endpoints)


def run_client(cid: int, location: str, plan: bytes, params: Params, seed: int,
               deadline: float, out: list, lock: threading.Lock) -> None:
    rng = random.Random(seed * 1000 + cid)
    client = Client(location, plan)
    try:
        client.prepare()
        n_pass = 0
        while time.time() < deadline:
            order = list(TYPES)
            rng.shuffle(order)
            for kind in order:  # a started pass always completes: whole mixes only
                rec = {"client": cid, "pass": n_pass, "type": kind, "t_send": time.time()}
                try:
                    cmd, _sql = client.command(kind, params, rng)
                    table, t_info, n_ep = client.fetch(cmd)
                    rec.update(ok=True, t_info=t_info, rows=table.num_rows,
                               bytes=table.nbytes, endpoints=n_ep)
                except Exception as exc:  # a failed request is a result, not a crash
                    rec.update(ok=False, t_info=time.time(), error=f"{type(exc).__name__}: {exc}"[:300])
                rec["t_end"] = time.time()
                with lock:
                    out.append(rec)
            n_pass += 1
    finally:
        client.close()


def run_load(location: str, plan: bytes, data_dir: str, seed: int, seconds: float) -> dict:
    params = Params(data_dir)
    out: list = []
    lock = threading.Lock()
    t0 = time.time()
    deadline = t0 + seconds
    threads = [
        threading.Thread(target=run_client, daemon=True,
                         args=(c, location, plan, params, seed, deadline, out, lock))
        for c in range(CLIENTS)
    ]
    for t in threads:
        t.start()
    give_up = deadline + 2 * CALL_TIMEOUT_S
    for t in threads:
        t.join(max(0.0, give_up - time.time()))
    return {"t_start": t0, "clients": CLIENTS, "requests": out,
            "stuck_clients": sum(t.is_alive() for t in threads)}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--port", type=int, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--data-dir", required=True)
    ap.add_argument("--plan-file", required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    with open(a.plan_file, "rb") as f:
        plan = f.read()
    result = run_load(f"grpc://127.0.0.1:{a.port}", plan, a.data_dir, a.seed, a.seconds)
    with open(a.out, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
