"""The benchmark's self-test: `python3 perfbench/run.py --selftest`.

Runs the delivery workload at a tiny size (a one-second open loop and
one 500-record drain) and shows that the correctness check has teeth:
  1. a clean run passes;
  2. deleting one delivered primary file makes it fail;
  3. corrupting one primary line makes it fail;
  4. another seed gives other input bytes and the same verdict.
Exits 0 only if all four hold.
"""
import glob
import hashlib
import os
import shutil

import run


def _digest(directory):
    h = hashlib.sha256()
    for f in sorted(glob.glob(os.path.join(directory, "*"))):
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _primary_files(phase):
    files = glob.glob(os.path.join(phase["paced"]["dir"], "output", "primary", "*", "part-*"))
    return sorted(f for f in files if os.path.getsize(f) > 0)


def _tiny_run(cp, seed, root):
    work = os.path.join(root, "seed%d" % seed)
    os.makedirs(work)
    inputs = run.prepare("delivery", seed, 1, work)
    seg = run.segment(cp, "delivery", work, 4, 1, "plain", "four")
    phase = seg["phases"]["plain"]
    return work, inputs, seg, phase


def main():
    cp = run.build()
    run.CHURN.update(records=500, drains=1)
    run.DEADLINE_S = 600
    root = os.path.join(run.BUILD, "selftest")
    shutil.rmtree(root, ignore_errors=True)
    results = []

    def verdict(inputs, seg, phase):
        return run.evaluate("delivery", phase, inputs, seg)["failed"] == 0

    try:
        work, inputs, seg, phase = _tiny_run(cp, 1, root)
        results.append(("clean run passes", verdict(inputs, seg, phase)))

        victim = _primary_files(phase)[0]
        saved = os.path.join(root, "saved-primary-file")
        shutil.move(victim, saved)
        results.append(("deleted primary file fails", not verdict(inputs, seg, phase)))
        shutil.move(saved, victim)

        with open(victim, encoding="utf-8") as fh:
            text = fh.read()
        with open(victim, "w", encoding="utf-8") as fh:
            fh.write(text.replace("Hell Yeah", "Hell Yeeh", 1))
        results.append(("corrupted primary line fails", not verdict(inputs, seg, phase)))
        with open(victim, "w", encoding="utf-8") as fh:
            fh.write(text)
        results.append(("restored output passes again", verdict(inputs, seg, phase)))

        work2, inputs2, seg2, phase2 = _tiny_run(cp, 2, root)
        differ = all(_digest(os.path.join(work, d)) != _digest(os.path.join(work2, d))
                     for d in ("staged", "backlog", "prime"))
        results.append(("another seed changes the inputs", differ))
        results.append(("another seed passes", verdict(inputs2, seg2, phase2)))
    finally:
        shutil.rmtree(root, ignore_errors=True)
    for name, ok in results:
        print("%-36s %s" % (name, "ok" if ok else "FAILED"))
    return 0 if all(ok for _, ok in results) and len(results) == 6 else 1
