"""Seeded input generators and the expectations computed from their labels.

Everything here is plain Python: the expected bucket counts and cent sums
come from the generator's own labels and a re-statement of the F1-F4 split
rules, never from the program under test.
"""
import datetime as dt
import json
import os
import random

# Traffic mix. The fraud and error shares, their overlap and the value
# ranges follow the reference's golden corpus (FIXTURES.md section 5 and
# section 1, SURVEY.md section 5.1): 7 of 123 rows are fraud, all of them
# Online Transactions of at least $1,250; 4 rows carry error text, and all
# 4 are also fraud; 20+ cities, 60+ merchants, 21 distinct MCCs.
P_FRAUD = 7 / 123          # Is Fraud? = "Yes", sometimes untrimmed
P_ERROR_IF_FRAUD = 4 / 7   # non-empty Errors? on a fraud row, sometimes untrimmed
# Half of the fraud rows carry the Unknown / XX / 00000 merchant location
# the reference marks as frequent on fraud ("often"; no share is given).
P_FRAUD_UNKNOWN_PLACE = 0.5
# Structurally dirty rows. The golden corpus gives no share for them; each
# rate is set so that every invalid arm, and the drop-through of a clean
# row without User, fires several times in each 1000-row batch while the
# valid bucket stays above nine tenths of the rows. Independent draws.
P_NULL_USER = 0.005      # no User: a clean row of this kind reaches no bucket
P_SHORT_CARD = 0.02      # 12-digit card: structurally invalid
P_NULL_AMOUNT = 0.01     # no Amount field (non-fraud rows)
P_ZERO_AMOUNT = 0.01     # "$0.00" (non-fraud rows)
P_BAD_TS = 0.01          # unparseable producer timestamp
# The golden corpus has 10 users in 123 rows; a stream has no reference
# figure. User ids do not steer any bucket or partition.
USERS = 2000

CHIPS = ["Chip Transaction", "Swipe Transaction", "Online Transaction"]
ERRORS = ["Bad CVV", "Bad Expiration", "Insufficient Balance",
          "Technical Glitch", "  Bad CVV "]
MCCS = ["4829", "5411", "5812", "5912", "5310", "5541", "7011", "4121",
        "5300", "5499", "5651", "5732", "5814", "5942", "5977", "7538",
        "7832", "8011", "8062", "4784", "5719"]
CITIES = [("New York", "NY"), ("Austin", "TX"), ("Seattle", "WA"),
          ("Miami", "FL"), ("Denver", "CO"), ("Boston", "MA"),
          ("Chicago", "IL"), ("Los Angeles", "CA"), ("San Diego", "CA"),
          ("Houston", "TX"), ("Dallas", "TX"), ("Phoenix", "AZ"),
          ("Portland", "OR"), ("Atlanta", "GA"), ("Orlando", "FL"),
          ("Nashville", "TN"), ("Columbus", "OH"), ("Detroit", "MI"),
          ("Minneapolis", "MN"), ("Philadelphia", "PA"),
          ("Charlotte", "NC"), ("Las Vegas", "NV"), ("Baltimore", "MD"),
          ("Salt Lake City", "UT")]
MERCHANTS = 64

# Input shapes per ingest workload: files (one per micro-batch), rows per
# file, and hours of send clock one file spans.
INGEST_SHAPES = {
    # live shape: the send clock advances 6 h per file, so a file falls in
    # one or two day partitions; 18 files carry every drain past the
    # ledger fold and vacuum the fan-out runs after 16 commits per store
    "ingest_small_batches": {"files": 18, "rows": 1000, "span_h": 6},
    # backfill shape: each file spans 28 days of history
    "ingest_large_batches": {"files": 2, "rows": 20000, "span_h": 28 * 24},
}
WARM_FILES = 2

EPOCH = dt.datetime(2024, 1, 1)


def _amount_str(cents):
    return "${:,.2f}".format(cents / 100)


def ingest_rows(rng, n, start, span_h):
    """n labelled messages whose send clock runs from `start` over `span_h`
    hours. Each message is (json_dict, label) where the label holds what
    the generator put in: user, card, cents (None when absent), whether
    the timestamp parses, the error text and the fraud text."""
    secs = sorted(rng.randrange(int(span_h * 3600)) for _ in range(n))
    out = []
    for s in secs:
        ts = start + dt.timedelta(seconds=s)
        user = None if rng.random() < P_NULL_USER else rng.randrange(USERS)
        card = str(4532000000000000 + rng.randrange(10 ** 9))
        if rng.random() < P_SHORT_CARD:
            card = card[:12]
        is_fraud = rng.random() < P_FRAUD
        if is_fraud:
            cents = rng.randrange(125000, 500000)
        elif rng.random() < P_NULL_AMOUNT:
            cents = None
        elif rng.random() < P_ZERO_AMOUNT:
            cents = 0
        else:
            cents = rng.randrange(1, 300000)
        good_ts = rng.random() >= P_BAD_TS
        err = ""
        if is_fraud and rng.random() < P_ERROR_IF_FRAUD:
            err = rng.choice(ERRORS)
        fraud = rng.choice(["Yes", "Yes "]) if is_fraud else "No"
        city, state = rng.choice(CITIES)
        zip_code = "%05d" % rng.randrange(100000)
        if is_fraud and rng.random() < P_FRAUD_UNKNOWN_PLACE:
            city, state, zip_code = "Unknown", "XX", "00000"
        iso = ts.strftime("%Y-%m-%dT%H:%M:%S")
        msg = {
            "User": user, "Card": card,
            "Year": ts.year, "Month": ts.month, "Day": ts.day,
            "Time": ts.strftime("%H:%M:%S"),
            "Amount": None if cents is None else _amount_str(cents),
            "Use Chip": "Online Transaction" if is_fraud else rng.choice(CHIPS),
            "Merchant Name": "Merchant_%d" % rng.randrange(MERCHANTS),
            "Merchant City": city, "Merchant State": state,
            "Zip": zip_code,
            "MCC": rng.choice(MCCS),
            "Errors?": err, "Is Fraud?": fraud,
            "timestamp": iso if good_ts else "BAD-" + iso,
        }
        if user is None:
            del msg["User"]
        if cents is None:
            del msg["Amount"]
        out.append((msg, {"user": user, "card": card, "cents": cents,
                          "good_ts": good_ts, "err": err, "fraud": fraud}))
    return out


def buckets_of(label):
    """The F1-F4 split restated over generator labels, with the reference's
    overlap (a fraud row may also be valid) and drop-through (a clean row
    without User reaches no bucket) quirks."""
    amount_ok = label["cents"] is not None and label["cents"] > 0
    is_error = label["err"].strip() != ""
    fraud = label["fraud"].strip()
    structurally_ok = len(label["card"]) >= 16 and amount_ok and label["good_ts"]
    out = []
    if label["user"] is not None and structurally_ok:
        out.append("valid")
    if fraud == "Yes":
        out.append("fraud")
    if is_error:
        out.append("errors")
    if not is_error and fraud == "No" and not structurally_ok:
        out.append("invalid_log")
    return out


def expected_buckets(labels):
    """{bucket: [rows, cent sum over rows with an amount]}."""
    exp = {b: [0, 0] for b in ("valid", "fraud", "errors", "invalid_log")}
    for lab in labels:
        for b in buckets_of(lab):
            exp[b][0] += 1
            exp[b][1] += lab["cents"] or 0
    return exp


def write_ingest(workload, seed, root):
    """Write the warm-up and the measured backlog as JSON-lines files (one
    file per micro-batch) and return the expectations for one drain of the
    measured backlog."""
    shape = INGEST_SHAPES[workload]
    rng = random.Random("%s/%d" % (workload, seed))
    start = EPOCH + dt.timedelta(days=rng.randrange(300))
    labels = []
    for sub, files in (("warm", WARM_FILES), ("main", shape["files"])):
        d = os.path.join(root, sub)
        os.makedirs(d)
        for i in range(files):
            rows = ingest_rows(rng, shape["rows"], start, shape["span_h"])
            start += dt.timedelta(hours=shape["span_h"])
            with open(os.path.join(d, "batch-%04d.json" % i), "w") as f:
                for msg, lab in rows:
                    f.write(json.dumps(msg) + "\n")
                    if sub == "main":
                        labels.append(lab)
    return {"files": shape["files"], "rows": shape["files"] * shape["rows"],
            "buckets": expected_buckets(labels)}


# ---------------------------------------------------------------- events

EVENT_ROWS = 20000
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]


def events_columns(seed, n=EVENT_ROWS):
    """The `events` table the tx queries read: event_id 0..n-1 in time
    order over 30 days, user_id, event_type, value (2 decimals), props."""
    rng = random.Random("events/%d" % seed)
    span = 30 * 86400 * 10 ** 6
    ts = sorted(rng.randrange(span) for _ in range(n))
    return {
        "event_id": list(range(n)),
        "ts": [EPOCH + dt.timedelta(microseconds=t) for t in ts],
        "user_id": [rng.randrange(1500) for _ in range(n)],
        "event_type": [rng.choice(EVENT_TYPES) for _ in range(n)],
        "value": [rng.randrange(0, 56000) / 100 for _ in range(n)],
        "props": ['{"k": %d}' % rng.randrange(100) for _ in range(n)],
    }


def write_events(seed, d, n=EVENT_ROWS):
    import pyarrow as pa
    import pyarrow.parquet as pq
    cols = events_columns(seed, n)
    os.makedirs(d)
    table = pa.table({
        "event_id": pa.array(cols["event_id"], pa.int64()),
        "ts": pa.array(cols["ts"], pa.timestamp("us")),
        "user_id": pa.array(cols["user_id"], pa.int64()),
        "event_type": pa.array(cols["event_type"], pa.string()),
        "value": pa.array(cols["value"], pa.float64()),
        "props": pa.array(cols["props"], pa.string()),
    })
    pq.write_table(table, os.path.join(d, "events.parquet"))
    return {"rows": len(cols["event_id"]), "tx1": tx1_expected(cols)}


def tx1_expected(cols):
    """tx1's four bucket counts from the events columns, by the raw-view
    rules (card short when id % 97 == 0, no amount when % 89, $0.00 when
    % 83, error text when % 43 or type 'error', fraud when % 37, bad
    timestamp when % 101) and the F1-F4 split."""
    n = {"error": 0, "fraud": 0, "invalid": 0, "valid": 0}
    for eid, etype, value in zip(cols["event_id"], cols["event_type"],
                                 cols["value"]):
        short_card = eid % 97 == 0
        if eid % 89 == 0:
            amount_ok = False
        elif eid % 83 == 0:
            amount_ok = False
        else:
            amount_ok = round(value * 100) > 0
        is_error = eid % 43 == 0 or etype == "error"
        is_fraud = eid % 37 == 0
        good_ts = eid % 101 != 0
        structurally_ok = not short_card and amount_ok and good_ts
        n["error"] += is_error
        n["fraud"] += is_fraud
        n["valid"] += structurally_ok
        n["invalid"] += not is_error and not is_fraud and not structurally_ok
    return n
