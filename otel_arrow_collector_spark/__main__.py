"""CLI front door — the reference's cobra command surface
(otelcol/command.go:16-50): the root command runs the collector from
repeatable ``--config`` URIs, plus the ``validate`` subcommand
(otelcol/command_validate.go:14-42: parse + validate without running)
and the ``components`` subcommand (otelcol/command_components.go:16-57:
YAML inventory of the registered factories + build info).

Flags (otelcol/flags.go:34-57):

- ``--config <uri>``   repeatable; one location per flag entry; bare
                       paths mean ``file:`` (file:/env:/yaml:/http(s):
                       all resolve through plans/confmap.py).
- ``--set a.b.c=v``    arbitrary dot-key override, rendered as a
                       ``yaml:`` document appended AFTER the config
                       URIs so it wins the deep-merge (flags.go:43-52
                       does literally ``"yaml:" + key + ": " + value``).
- ``--feature-gates``  comma-delimited gate ids, ``-`` prefix disables
                       (featuregate flag syntax).

Exit codes mirror cobra RunE: 0 on success, 1 with the error on stderr.

    python -m otel_arrow_collector_spark --config file:/path/cfg.yaml
    python -m otel_arrow_collector_spark validate --config cfg.yaml
    python -m otel_arrow_collector_spark components
"""

from __future__ import annotations

import argparse
import json
import sys

from . import __version__

COMMAND = "otel-arrow-collector-spark"
DESCRIPTION = ("PySpark-native analytics engine with the query surface "
               "of the OpenTelemetry Arrow collector")


def _flags(parser: argparse.ArgumentParser) -> None:
    """The shared flag set (flags.go builds ONE FlagSet attached to both
    the root and validate commands)."""
    parser.add_argument(
        "--config", action="append", default=[], metavar="URI",
        help="Locations to the config file(s), note that only a single "
             "location can be set per flag entry e.g. "
             "--config=file:/path/to/first --config=file:path/to/second")
    parser.add_argument(
        "--set", action="append", default=[], metavar="KEY=VAL",
        dest="sets",
        help="Set arbitrary component config property. The component "
             "has to be defined in the config file and the flag has a "
             "higher precedence. Array config properties are overridden "
             "and maps are joined. Example "
             "--set=processors.batch.send_batch_size=1024")
    parser.add_argument(
        "--feature-gates", action="append", default=[], metavar="IDS",
        help="Comma-delimited list of feature gate identifiers. Prefix "
             "with '-' to disable the feature. '+' or no prefix will "
             "enable the feature.")
    parser.add_argument(
        "--sf-dir", default=None, metavar="DIR",
        help="Base directory for `kind: table` receivers (engine "
             "extension; not part of the reference flag set).")
    parser.add_argument(
        "--watch", action="store_true",
        help="Stay alive after the first run and re-run the whole "
             "resolve->compile->run cycle whenever a file-based or "
             "http(s) config URI changes (the reference's provider "
             "Watch loop, otelcol/collector.go:236-252; mtime poll for "
             "files, conditional GET for http). An invalid edit is "
             "rejected by dry-run validation and the running plan is "
             "kept.")
    parser.add_argument(
        "--watch-duration", type=float, default=None, metavar="SEC",
        help="With --watch: exit after this many seconds instead of "
             "running until interrupted (engine extension for "
             "scripted/CI use).")


def _set_to_yaml_uri(s: str) -> str:
    """--set a.b.c=v  ->  a ``yaml:`` config URI holding the nested
    override (flags.go:43-52; the value is parsed as YAML so `5` stays
    an int and `2s` a string)."""
    idx = s.find("=")
    if idx == -1:
        raise ValueError("missing equal sign")
    keys = [k for k in s[:idx].strip().split(".") if k]
    if not keys:
        raise ValueError(f"invalid --set key in {s!r}")
    value = s[idx + 1:].strip()
    doc = ""
    # Keys are always strings (they came from a dot-split), so emit them
    # double-quoted: a bare `no:` / `on:` / `012:` would YAML-resolve to
    # bool/int and the override would land under the wrong key.  The
    # VALUE stays bare on purpose — it must keep YAML-native typing.
    for depth, k in enumerate(keys[:-1]):
        doc += " " * depth + json.dumps(k) + ":\n"
    doc += " " * (len(keys) - 1) + json.dumps(keys[-1]) + ": " + value
    return "yaml:" + doc


def _gather_config_uris(args) -> list[str]:
    """configs first, --set overrides after (getConfigFlag appends sets
    to values, flags.go:60-63) — later URIs win the deep-merge."""
    uris = list(args.config)
    if not uris:
        raise ValueError("at least one config flag must be provided")
    uris += [_set_to_yaml_uri(s) for s in args.sets]
    return uris


def _apply_gate_flags(args) -> None:
    if args.feature_gates:
        from .plans.featuregate import global_registry
        global_registry().apply_flags(",".join(args.feature_gates))


def cmd_run(args) -> int:
    uris = _gather_config_uris(args)
    _apply_gate_flags(args)
    from .plans.collector import Collector
    from .session import get_spark
    spark = get_spark(COMMAND)
    col = Collector(spark, *uris, sf_dir=args.sf_dir)

    def show(results) -> None:
        for key, val in results.items():
            if isinstance(val, str):
                print(f"{key}:\n{val}")
            elif isinstance(val, list):
                print(f"{key}: {len(val)} rows")
            else:
                print(f"{key}: {val}")

    watcher = None
    if args.watch:
        from .plans.watcher import ConfigWatcher, WatchEvent

        def on_event(ev: WatchEvent) -> None:
            if ev.kind == "reloaded":
                print("config reloaded:", flush=True)
                show(ev.detail)
            else:
                print(f"config change {ev.kind}: {ev.detail}",
                      flush=True)

        # constructed BEFORE start(): the baseline mtime snapshot then
        # covers the same config state the first run resolves, so an
        # edit racing the startup is a detected change
        try:
            watcher = ConfigWatcher(col, on_event=on_event)
        except ValueError as e:
            # env:/yaml:-only configs have nothing external to poll —
            # a flag-validation error, not a traceback
            print(f"error: --watch: {e}", file=sys.stderr)
            return 2
    died = False
    try:
        show(col.start())
        if watcher is not None:
            import time

            from .plans.collector import State
            deadline = (None if args.watch_duration is None
                        else time.monotonic() + args.watch_duration)
            with watcher:
                try:
                    while col.state is State.RUNNING and (
                            deadline is None
                            or time.monotonic() < deadline):
                        time.sleep(0.1)
                except KeyboardInterrupt:
                    pass
            # A reload apply-failure closes the collector; the reference
            # treats a failed reloadConfiguration as a fatal collector
            # error (otelcol/collector.go:249-251), so scripted callers
            # must see a non-zero exit — not be fooled into reading a
            # dead --watch loop as clean --watch-duration expiry
            # (r10 ADVICE).
            died = col.state is not State.RUNNING
            if died:
                print("error: --watch: collector left RUNNING state "
                      "(failed reload)", file=sys.stderr)
    finally:
        col.shutdown()
    return 1 if died else 0


def cmd_validate(args) -> int:
    """Validates the config without running the collector, through the
    same resolve -> feature gates -> telemetry -> extensions -> graph
    checks as every run (``plans.collector.load_config``).  Spark-free
    (DryRun parses and validates; it starts nothing)."""
    uris = _gather_config_uris(args)
    _apply_gate_flags(args)
    from .plans.collector import load_config
    load_config(*uris)
    return 0


def cmd_components(_args) -> int:
    """YAML inventory of every registered factory, keyed like the
    reference's componentsOutput struct: the keys of each component
    class's kind table."""
    import yaml

    from .plans.extensions import _EXTENSIONS
    from .plans.pipeline import _SECTIONS
    out = {
        "buildinfo": {"command": COMMAND,
                      "description": DESCRIPTION,
                      "version": __version__},
        **{key: sorted(table) for key, (_, _, table) in _SECTIONS.items()},
        "extensions": sorted(_EXTENSIONS),
    }
    sys.stdout.write(yaml.safe_dump(out, sort_keys=False))
    return 0


def main(argv: list[str] | None = None) -> int:
    argv = sys.argv[1:] if argv is None else argv

    parser = argparse.ArgumentParser(prog=COMMAND,
                                     description=DESCRIPTION)
    parser.add_argument("--version", action="version",
                        version=f"{COMMAND} version {__version__}")
    sub: str | None = None
    if argv and argv[0] in ("validate", "components"):
        sub, argv = argv[0], argv[1:]
        parser.prog = f"{COMMAND} {sub}"
    if sub != "components":
        _flags(parser)
    args = parser.parse_args(argv)

    handler = {"validate": cmd_validate,
               "components": cmd_components}.get(sub, cmd_run)
    try:
        return handler(args)
    except Exception as e:                       # cobra RunE: error -> 1
        print(f"Error: {e}", file=sys.stderr)
        return 1


if __name__ == "__main__":
    sys.exit(main())
