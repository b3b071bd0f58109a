"""Versioned YAML type-spec loading (S7): the reference's declarative
parsing-rule system re-expressed for the Spark engine.

Reference format (system/ObjectTypeParsingRulesFileParser.java:39-123;
example resources/types/Genome.yaml:20-97):

    global-object-type: <search type name>
    storage-type: <source system>
    storage-object-type: <source type name>
    versions:                      # ordered; index+1 = search type version
        - indexing-rules:
            - path: a/b/{size}     # {size} = cardinality, G2
              keyword-type: integer|keyword|string|double|boolean
              full-text: true      # BM25 field instead of keyword
              key-name: <output key>   # default: first path section
              optional-default-value: <T7 default>
              not-indexed: true    # T9: stored on docs, never indexed
              source-key: <other key>  # T8 derived input
              expression: <spark SQL over prior keys>  # T8 computation
              ui-name/ui-hidden: carried, ignored for execution

Type-version routing (system/TypeMapping.java:15-83; test fixture
TwoVersionsMapping.yaml): a mapping file pins (storage type, storage
version) -> (search type, search version); with no mapping the LATEST
spec version applies (reference default,
ObjectTypeParsingRulesFileParser.java:105-118).

Each version's indexing-rules compile to transforms.Rule chains (the
KeywordParser analog) that drive apply_rules / the index build.
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field

from .transforms import Rule

try:  # PyYAML is present in this environment; degrade loudly if not
    import yaml
except ImportError:  # pragma: no cover
    yaml = None


class TypeSpecError(ValueError):
    pass


_KEYWORD_TYPES = {
    "keyword": "string",
    "string": "string",
    "text": "string",
    "integer": "integer",
    "long": "integer",
    "double": "double",
    "float": "double",
    "boolean": "boolean",
}


@dataclass
class TypeSpec:
    name: str                    # global-object-type
    storage_type: str
    storage_object_type: str
    versions: list[list[Rule]]   # 1-based search versions, versions[v-1]
    ui: dict = dc_field(default_factory=dict)  # key -> {ui-name, ui-hidden}
    # sub-object extraction (reference: ObjectTypeParsingRules
    # path-to-sub-objects / sub-object-type, e.g. GenomeFeature.yaml:6-8):
    # each element of the repeated field at sub_object_path becomes its
    # own child document with a composite GUID, indexed into a PHYSICAL
    # `*_sub` child index (ElasticIndexingStorage.java:297-302 naming;
    # default searches exclude `-*_sub`, :62,1544-1546). The path names
    # an array column of the object frame (JSON paths can be projected
    # into one by a prior rule).
    sub_object_path: str | None = None
    sub_object_type: str | None = None

    @property
    def latest_version(self) -> int:
        return len(self.versions)

    def rules(self, version: int | None = None) -> list[Rule]:
        """Rules for a search type version (1-based); None/0 = latest
        (the reference's default-version fallback)."""
        v = version or self.latest_version
        if not 1 <= v <= len(self.versions):
            raise TypeSpecError(
                f"type {self.name}: no version {v} (have 1..{len(self.versions)})"
            )
        return self.versions[v - 1]

    def indexed_keys(self, version: int | None = None) -> list[str]:
        return [r.name for r in self.rules(version) if not r.not_indexed]


def _compile_rule(raw: dict, spec_name: str) -> tuple[Rule, dict]:
    path = raw.get("path")
    key = raw.get("key-name")
    transform = None
    if path is not None:
        segs = str(path).split("/")
        if segs[-1] == "{size}":
            segs = segs[:-1]
            # cardinality of the element at the parent path (G2):
            # JSON-path sources measure the JSON array, column sources the
            # array column
            transform = "json_size" if len(segs) > 1 else "size"
            if not segs:
                raise TypeSpecError(f"{spec_name}: bare {{size}} path")
        path = "/".join(segs)
        if key is None:
            key = segs[0]  # reference default: first path section
    if key is None:
        raise TypeSpecError(f"{spec_name}: rule needs path or key-name: {raw}")

    kw = raw.get("keyword-type")
    full_text = bool(raw.get("full-text", False))
    if transform is None:
        if full_text:
            transform = "string"
        elif kw is not None:
            if kw not in _KEYWORD_TYPES:
                raise TypeSpecError(
                    f"{spec_name}: unknown keyword-type {kw!r} for key {key}"
                )
            transform = _KEYWORD_TYPES[kw]
        else:
            transform = str(raw.get("transform", "string"))
    elif kw is not None and kw in _KEYWORD_TYPES:
        pass  # {size} already integer-shaped; keyword-type confirms it

    rule = Rule(
        name=str(key),
        path=path,
        source_key=raw.get("source-key"),
        transform=transform,
        default=raw.get("optional-default-value"),
        not_indexed=bool(raw.get("not-indexed", False)),
        expr=raw.get("expression"),
        full_text=full_text,
    )
    ui = {
        k: raw[k] for k in ("ui-name", "ui-hidden") if k in raw
    }
    return rule, ui


def parse_spec(text: str) -> TypeSpec:
    """Parse one YAML type spec (the reference's per-type file)."""
    if yaml is None:  # pragma: no cover
        raise TypeSpecError("PyYAML not available")
    doc = yaml.safe_load(text)
    if not isinstance(doc, dict):
        raise TypeSpecError("spec is not a mapping")
    for req in ("global-object-type", "storage-type", "storage-object-type"):
        if req not in doc:
            raise TypeSpecError(f"spec missing required field {req!r}")
    name = str(doc["global-object-type"])
    versions: list[list[Rule]] = []
    ui: dict = {}
    raw_versions = doc.get("versions") or []
    if not raw_versions:
        raise TypeSpecError(f"type {name}: no versions")
    for vi, ver in enumerate(raw_versions, start=1):
        rules = []
        for raw in (ver or {}).get("indexing-rules") or []:
            rule, rule_ui = _compile_rule(raw, name)
            rules.append(rule)
            if rule_ui:
                ui[f"{rule.name}@v{vi}"] = rule_ui
        if not rules:
            raise TypeSpecError(f"type {name} v{vi}: empty indexing-rules")
        versions.append(rules)
    sub_path = doc.get("sub-object-path") or doc.get("path-to-sub-objects")
    return TypeSpec(
        name=name,
        storage_type=str(doc["storage-type"]),
        storage_object_type=str(doc["storage-object-type"]),
        versions=versions,
        ui=ui,
        sub_object_path=str(sub_path) if sub_path is not None else None,
        sub_object_type=(
            str(doc["sub-object-type"]) if "sub-object-type" in doc else None
        ),
    )


def parse_spec_file(path: str) -> TypeSpec:
    with open(path) as f:
        return parse_spec(f.read())


@dataclass
class TypeMapping:
    """(storage type, storage version) -> [(search type, search version)]
    routing (system/TypeMapping.java; YAML shape per
    TwoVersionsMapping.yaml)."""
    storage_type: str
    # storage_object_type -> {storage_version(int or None=default) ->
    #                         [(search_type, search_version|None=latest)]}
    routes: dict

    def route(
        self, storage_object_type: str, storage_version: int | None = None
    ) -> list[tuple[str, int | None]]:
        by_ver = self.routes.get(storage_object_type)
        if by_ver is None:
            return []
        if storage_version in by_ver:
            return by_ver[storage_version]
        return by_ver.get(None, [])  # default-mapping fallback


def parse_type_mapping(text: str) -> TypeMapping:
    if yaml is None:  # pragma: no cover
        raise TypeSpecError("PyYAML not available")
    doc = yaml.safe_load(text)
    routes: dict = {}
    for st_type, body in (doc.get("types") or {}).items():
        by_ver: dict = {}
        for sv, targets in (body.get("versions") or {}).items():
            tl = [
                (str(t["type"]), int(t["version"]) if "version" in t else None)
                for t in targets or []
            ]
            by_ver[int(sv)] = tl
        if "default" in body:
            by_ver[None] = [
                (str(t["type"]), int(t["version"]) if "version" in t else None)
                for t in body["default"] or []
            ]
        routes[str(st_type)] = by_ver
    return TypeMapping(storage_type=str(doc.get("storage-type", "")), routes=routes)


def resolve_rules(
    spec_by_name: dict[str, TypeSpec],
    mapping: TypeMapping | None,
    storage_object_type: str,
    storage_version: int | None = None,
) -> list[tuple[str, int, list[Rule]]]:
    """End-to-end routing: storage object type+version -> [(search type,
    search version, rules)]. With no mapping entry, every spec whose
    storage-object-type matches applies at its LATEST version (the
    reference's no-mapping default)."""
    out = []
    targets: list[tuple[str, int | None]] = []
    if mapping is not None:
        targets = mapping.route(storage_object_type, storage_version)
    if not targets:
        targets = [
            (s.name, None)
            for s in spec_by_name.values()
            if s.storage_object_type == storage_object_type
        ]
    for tname, tver in targets:
        spec = spec_by_name.get(tname)
        if spec is None:
            raise TypeSpecError(f"mapping targets unknown type {tname!r}")
        v = tver or spec.latest_version
        out.append((tname, v, spec.rules(v)))
    return out
