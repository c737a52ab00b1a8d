"""Open-loop event feeder: a separate process that drops pre-rendered
JSON-lines files into a landing directory on a fixed schedule, standing
in for the Kafka producer of the reference application.

File ``k`` is due at ``t0 + schedule[k]``; the feeder sleeps until then,
writes the file under a hidden name (Spark's file source skips names
starting with ``.``) and renames it into place, so the stream never sees
a partial file. The schedule does not slow when the engine slows. Each
file logs its due time, how late it actually landed and how many files
were waiting in the landing directory (the unconsumed backlog).

    python3 perfbench/feeder.py STAGE_DIR SCHEDULE_JSON LANDING_DIR T0 LOG_PATH
"""

from __future__ import annotations

import json
import os
import sys
import time


def main(stage: str, schedule: str, landing: str, t0: float, log_path: str) -> None:
    names = sorted(os.listdir(stage))
    with open(schedule) as fh:
        offsets = json.load(fh)
    if len(offsets) != len(names):
        raise SystemExit(f"{len(names)} staged files but {len(offsets)} due times")
    payloads = []
    for name in names:  # everything is in memory before the clock starts
        with open(os.path.join(stage, name), "rb") as fh:
            payloads.append(fh.read())
    log = []
    for name, body, offset in zip(names, payloads, offsets):
        due = t0 + offset
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        backlog = sum(1 for n in os.listdir(landing) if not n.startswith("."))
        hidden = os.path.join(landing, "." + name)
        with open(hidden, "wb") as fh:
            fh.write(body)
        os.rename(hidden, os.path.join(landing, name))
        log.append({"file": name, "due": due, "lag_s": time.time() - due, "backlog": backlog})
    with open(log_path + ".part", "w") as fh:
        json.dump(log, fh)
    os.rename(log_path + ".part", log_path)


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2], sys.argv[3], float(sys.argv[4]), sys.argv[5])
