"""Service extensions — the reference's extension build/start/shutdown
cycle (service/extensions/extensions.go:29-66 Start/Shutdown walk the
config-declared map; service.go:198-205 builds only the ids listed in
``service.extensions``) plus the canonical config layout: a top-level
``extensions:`` section DECLARES instances, ``service.extensions:``
lists which of them run — referencing an undeclared id is a config
error (extensions.go New's "extension factory not available" path).

Extension ids follow component-ID syntax ``type[/name]``; the type
selects the factory, a config check and a builder in ``_EXTENSIONS``,
which ``validate_extensions`` and ``build_extensions`` both read.
Factories here cover the surface the engine implements:

- ``file_storage``  -> :class:`plans.storage.FileStorageExtension`
  (``directory:`` config key, contrib file_storage shape),
- ``bearer_token_auth`` -> a named server+client bearer authenticator
  pair registered into the configauth registry under the instance id
  (``token:`` config key), so receivers/exporters reference it by name,
- ``zpages``        -> marker (the debug surface is assembled live by
  ``Collector.zpages()``; the extension's presence enables it),
- ``nop``           -> nothing (the test extension).
"""

from __future__ import annotations

import tempfile
from dataclasses import dataclass, field

from .pipeline import ConfigError, _any


@dataclass
class BuiltExtensions:
    """The started extension set (Extensions struct,
    extensions.go:23-27): instances by full id."""

    instances: dict[str, object] = field(default_factory=dict)
    _auth_names: list[str] = field(default_factory=list)

    def get(self, ext_id: str):
        return self.instances.get(ext_id)

    def shutdown(self) -> None:
        """Shutdown walks every started extension
        (extensions.go:44-52); auth registrations are released so a
        rebuilt collector can re-register the same names."""
        from ..sources.auth import unregister_authenticator
        for inst in self.instances.values():
            sd = getattr(inst, "shutdown", None)
            if callable(sd):
                sd()
        for name in self._auth_names:
            unregister_authenticator(name)
        self._auth_names.clear()
        self.instances.clear()


def _ext_type(ext_id: str) -> str:
    """Component-ID syntax: the factory type is everything before the
    first '/' (component/identifiable.go)."""
    return ext_id.split("/", 1)[0]


def _id_list(val, what: str) -> list[str]:
    """Extension-id list fence: a bare string means one id (the YAML
    shorthand), a list coerces with per-element type checks — never
    list('zpages') exploding into characters."""
    if val is None:
        return []
    if isinstance(val, str):
        return [val]
    if isinstance(val, (list, tuple)):
        out = []
        for x in val:
            if not isinstance(x, str):
                raise ConfigError(f"{what}: extension ids must be "
                                  f"strings, got {type(x).__name__}")
            out.append(x)
        return out
    raise ConfigError(f"{what}: must be a list of extension ids, "
                      f"got {type(val).__name__}")


def validate_extensions(declared, enabled) -> None:
    """Config-time checks shared by `validate` and the run cycle."""
    declared = declared or {}
    if not isinstance(declared, dict):
        raise ConfigError(f"extensions: must be a mapping of extension "
                          f"ids, got {type(declared).__name__}")
    enabled = _id_list(enabled, "service.extensions")
    dup = {e for e in enabled if enabled.count(e) > 1}
    if dup:
        # extensions.go builds a map keyed by id: one instance per id;
        # listing an id twice would double-build (and double-register
        # its authenticator names), so it is a config error here
        raise ConfigError(
            f"service.extensions lists {sorted(dup)} more than once")
    for ext_id in enabled:
        if ext_id not in declared:
            raise ConfigError(
                f"service.extensions references undeclared extension "
                f"{ext_id!r}")
    # the reference fails unmarshal for ANY declared extension with an
    # unavailable factory or malformed config, enabled or not — so
    # validate every declared id, not just the enabled subset
    for ext_id in declared:
        t = _ext_type(ext_id)
        if t not in _EXTENSIONS:
            raise ConfigError(f"extension {ext_id!r}: unknown type {t!r}")
        cfg = declared.get(ext_id) or {}
        if not isinstance(cfg, dict):
            raise ConfigError(f"extension {ext_id!r}: config must be a "
                              f"mapping, got {type(cfg).__name__}")
        try:
            _EXTENSIONS[t][0](t, cfg)
        except ConfigError as e:
            raise ConfigError(f"extension {ext_id!r}: {e}") from None


def build_extensions(declared, enabled) -> BuiltExtensions:
    """Build + start the enabled extensions in declaration order
    (extensions.go Start loop).  A failure mid-build shuts down the
    partial set — including unregistering any authenticator names —
    so a retried Collector.start() does not hit "already registered"
    on a registry poisoned by the failed attempt."""
    validate_extensions(declared, enabled)
    declared = declared or {}
    enabled = _id_list(enabled, "service.extensions")
    built = BuiltExtensions()
    try:
        for ext_id in enabled:
            build = _EXTENSIONS[_ext_type(ext_id)][1]
            inst = built.instances[ext_id] = build(
                ext_id, declared.get(ext_id) or {}, built)
            start = getattr(inst, "start", None)
            if callable(start):
                start()
    except BaseException:
        built.shutdown()
        raise
    return built


def _needs_token(kind: str, cfg: dict) -> None:
    if not cfg.get("token"):
        raise ConfigError(f"{kind} needs a `token:`")


def _file_storage(ext_id: str, cfg: dict, built: BuiltExtensions):
    from .storage import FileStorageExtension
    return FileStorageExtension(
        cfg.get("directory") or tempfile.mkdtemp(prefix="oacs-storage-"))


def _bearer_token_auth(ext_id: str, cfg: dict, built: BuiltExtensions):
    from ..sources.auth import (BearerTokenAuthenticator,
                                BearerTokenClientAuthenticator,
                                register_authenticator)
    server = BearerTokenAuthenticator(cfg["token"])
    # server half registered under the id: receivers say
    # `authenticator: <id>`; the client half under `<id>/client`
    register_authenticator(ext_id, server)
    register_authenticator(f"{ext_id}/client",
                           BearerTokenClientAuthenticator(cfg["token"]))
    built._auth_names += [ext_id, f"{ext_id}/client"]
    return server


# extension type -> (config check(type, cfg), builder(id, cfg, built) ->
# instance); the `components` subcommand prints the keys
_EXTENSIONS = {
    "file_storage": (_any, _file_storage),
    "bearer_token_auth": (_needs_token, _bearer_token_auth),
    "zpages": (_any, lambda ext_id, cfg, built: "zpages-enabled"),
    "nop": (_any, lambda ext_id, cfg, built: None),
}


def normalize_service_layout(cfg: dict) -> dict:
    """Accept the reference's CANONICAL config layout in place: a
    ``service:`` section carrying ``pipelines``/``telemetry``/
    ``extensions`` (otelcol testdata, e.g. otelcol-nop.yaml) is lifted
    to the engine's flat shape.  Flat configs pass through unchanged;
    declaring a section BOTH flat and under service: is ambiguous and
    rejected."""
    svc = cfg.pop("service", None)
    if svc is None:
        return cfg
    if not isinstance(svc, dict):
        raise ConfigError("service: must be a mapping")
    out = dict(cfg)
    for key in ("pipelines", "telemetry"):
        if key in svc:
            if key in out:
                raise ConfigError(
                    f"{key}: declared both at top level and under "
                    f"service: — pick one")
            out[key] = svc[key]
    if "extensions" in svc:
        if "service_extensions" in out:
            raise ConfigError("service.extensions declared twice")
        out["service_extensions"] = _id_list(svc["extensions"],
                                             "service.extensions")
    unknown = set(svc) - {"pipelines", "telemetry", "extensions"}
    if unknown:
        raise ConfigError(f"service: unknown keys {sorted(unknown)}")
    return out
