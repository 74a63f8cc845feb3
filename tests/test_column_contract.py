"""Every operator reads fixed column names; a string-defaulted ``*_col``
parameter exists only where some caller sets it to another column. This
gate fails when one is added, so a new knob lands with its caller."""

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parents[1] / "tribeca_insights_spark"

KNOBS = {tuple(k.split(".")) for k in """
    char_shingles.text_col client_redirects.id_col
    cluster_size_histogram.key_col compaction_plan.file_col
    compaction_plan.size_col compaction_summary.size_col
    containment_join.token_col image_sources.id_col link_tags.id_col
    lsh_bands.id_col lsh_candidate_pairs.id_col meta_tags.id_col
    minhash_signatures.id_col parse_jsonl.out_col
    prefix_jaccard_join.token_col rendezvous_assign.out_col
    robots_meta_flags.id_col roc_points.label_col roc_points.score_col
    stratified_topk_sample.stratum_col
""".split()}


def test_string_defaulted_col_params_are_the_used_ones():
    found = set()
    for path in PKG.rglob("*.py"):
        for fn in ast.walk(ast.parse(path.read_text())):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            a = fn.args
            pos = a.posonlyargs + a.args
            pairs = list(zip(pos[len(pos) - len(a.defaults):], a.defaults))
            pairs += list(zip(a.kwonlyargs, a.kw_defaults))
            found |= {
                (fn.name, arg.arg) for arg, d in pairs
                if arg.arg.endswith("_col") and isinstance(d, ast.Constant)
                and isinstance(d.value, str)
            }
    assert found == KNOBS
