"""Literal port of the reference's entity-pair model forward, as a
pytest oracle for scoring/electra.py.

Transcribes ElectraModelEntitySentenceClassification.forward
(reference electra_model.py:563-690) together with the transformers-2.11
modules it instantiates (ElectraEmbeddings, BertEncoder/BertLayer,
get_extended_attention_mask) — deliberately NAIVE: one example at a
time, one head at a time, per-position pooling loops, math.erf for the
exact GELU.  Shares only the weight dict layout with the engine module;
every matmul/normalization is written independently here.
"""

from __future__ import annotations

import math

import numpy as np


def erf_exact(x: np.ndarray) -> np.ndarray:
    return np.vectorize(math.erf)(x.astype(np.float64))


def gelu_exact(x: np.ndarray) -> np.ndarray:
    return x * 0.5 * (1.0 + erf_exact(x / math.sqrt(2.0)))


def _ln(x, w, b, eps):
    out = np.empty_like(x, dtype=np.float64)
    for i in range(x.shape[0]):  # per position, naive
        row = x[i].astype(np.float64)
        mu = row.mean()
        var = ((row - mu) ** 2).mean()
        out[i] = (row - mu) / math.sqrt(var + eps) * w + b
    return out


def encode_one(w, input_ids: list[int], attention_mask: list[int]) -> np.ndarray:
    """One example through embeddings -> encoder; returns [T, H]."""
    c = w.config
    p = w.p
    T = len(input_ids)

    # ElectraEmbeddings: word + position + token_type (all-zero type ids)
    h = np.zeros((T, c.embedding_size), np.float64)
    for i, tid in enumerate(input_ids):
        h[i] = (
            p["emb.word"][tid].astype(np.float64)
            + p["emb.pos"][i].astype(np.float64)
            + p["emb.type"][0].astype(np.float64)
        )
    h = _ln(h, p["emb.ln.w"], p["emb.ln.b"], c.layer_norm_eps)
    if "proj.w" in p:
        h = h @ p["proj.w"] + p["proj.b"]

    # get_extended_attention_mask: (1 - m) * -10000
    ext = np.array([(1.0 - m) * -10000.0 for m in attention_mask])

    nh = c.num_attention_heads
    dh = c.hidden_size // nh
    for li in range(c.num_hidden_layers):
        q_all = h @ p[f"l{li}.q.w"] + p[f"l{li}.q.b"]
        k_all = h @ p[f"l{li}.k.w"] + p[f"l{li}.k.b"]
        v_all = h @ p[f"l{li}.v.w"] + p[f"l{li}.v.b"]
        ctx = np.zeros((T, c.hidden_size), np.float64)
        for hd in range(nh):  # per head, naive
            q = q_all[:, hd * dh:(hd + 1) * dh]
            k = k_all[:, hd * dh:(hd + 1) * dh]
            v = v_all[:, hd * dh:(hd + 1) * dh]
            for i in range(T):  # per query position
                scores = np.array(
                    [float(q[i] @ k[j]) / math.sqrt(dh) + ext[j] for j in range(T)]
                )
                e = np.exp(scores - scores.max())
                probs = e / e.sum()
                ctx[i, hd * dh:(hd + 1) * dh] = probs @ v
        attn = _ln(
            ctx @ p[f"l{li}.ao.w"] + p[f"l{li}.ao.b"] + h,
            p[f"l{li}.aln.w"], p[f"l{li}.aln.b"], c.layer_norm_eps,
        )
        inter = gelu_exact(attn @ p[f"l{li}.i.w"] + p[f"l{li}.i.b"])
        h = _ln(
            inter @ p[f"l{li}.o.w"] + p[f"l{li}.o.b"] + attn,
            p[f"l{li}.oln.w"], p[f"l{li}.oln.b"], c.layer_norm_eps,
        )
    return h


def forward_one(
    w, input_ids: list[int], attention_mask: list[int],
    entity_mask: list[int], chem_code: int, dis_code: int,
):
    """One example through embeddings -> encoder -> first-token pooling
    -> pair head; returns ([T,H] hidden, [2] logits)."""
    c = w.config
    p = w.p
    h = encode_one(w, input_ids, attention_mask)

    # get_entity_embedding (electra_model.py:618-624): FIRST position
    # whose mask equals the code, found with the reference's own loop
    def get_entity_embedding(token_embedding, masked_entities, code):
        embedding = None
        for i, mask in enumerate(masked_entities):
            if mask == code:
                embedding = token_embedding[i]
                break
        return embedding

    chem = get_entity_embedding(h, entity_mask, chem_code)
    dis = get_entity_embedding(h, entity_mask, dis_code)
    if chem is None:
        chem = np.zeros(c.hidden_size, np.float64)
    if dis is None:
        dis = np.zeros(c.hidden_size, np.float64)
    x = np.concatenate([chem, dis])
    x = x @ p["head.dense.w"] + p["head.dense.b"]
    x = gelu_exact(x)
    logits = x @ p["head.out.w"] + p["head.out.b"]
    return h, logits


# --------------------------------------------------------------------------
# literal transcriptions of the pooling variants and the is_full_sample /
# NER / ALPS forwards (reference electra_model.py:205-219, 360-377,
# 626-734, 767-829)
# --------------------------------------------------------------------------


def pool_run_counting_one(token_embedding, masked_entities, code):
    """get_entity_embedding of electra_model.py:205-219 (and the ALPS
    twin at :360-377): run-counted mean, transcribed verbatim."""
    count = 0
    embedding = np.zeros(token_embedding.shape[1], np.float64)
    check = True
    for i, mask in enumerate(masked_entities):
        if mask == code:
            if check:
                count += 1
                check = False
            embedding = embedding + token_embedding[i]
        else:
            check = True
    embedding = embedding / count  # absent code -> ZeroDivision (torch: nan)
    return embedding


def pool_all_match_one(token_embedding, masked_entities, code):
    """get_all_entity_embedding (electra_model.py:626-641) transcribed
    verbatim INCLUDING the dead 'get first embedding' branch."""
    embedding_size = token_embedding.shape[-1]
    embedding = []
    current_idx = 0
    for i, mask in enumerate(masked_entities):
        if mask == code:
            if i != current_idx - 1:  # get first embedding (dead: always true)
                embedding.append(token_embedding[i])
            current_idx = i
    if len(embedding) == 0:
        embedding = [np.zeros(embedding_size, np.float64)]
    return np.stack(embedding).mean(axis=0)


def generate_code_pairs_list_one(chem_codes, dis_codes, label_len):
    """generate_code_pairs_list (electra_model.py:645-663) verbatim."""
    chemical_codes = []
    disease_codes = []
    for i in range(len(chem_codes)):
        if chem_codes[i] == -1:
            break
        for j in range(len(dis_codes)):
            if dis_codes[j] == -1:
                break
            chemical_codes.append(chem_codes[i])
            disease_codes.append(dis_codes[j])
    for i in range(len(chemical_codes), label_len):
        chemical_codes.append(-1)
        disease_codes.append(-1)
    return chemical_codes, disease_codes


def forward_full_sample_one(
    w, input_ids, attention_mask, entity_mask, chem_codes, dis_codes, label_length
):
    """One document through the is_full_sample branch
    (electra_model.py:711-734): per-pair all-match pooling over the SAME
    single encoder pass, then the gelu pair head; returns [L, 2]."""
    p = w.p
    h = encode_one(w, input_ids, attention_mask)
    ccs, dcs = generate_code_pairs_list_one(chem_codes, dis_codes, label_length)
    current_output = []
    for j in range(len(ccs)):
        chem = pool_all_match_one(h, entity_mask, ccs[j])
        dis = pool_all_match_one(h, entity_mask, dcs[j])
        r_rep = np.concatenate([chem, dis])
        current_output.append(r_rep)
    x = np.stack(current_output)
    x = x @ p["head.dense.w"] + p["head.dense.b"]
    x = gelu_exact(x)
    return x @ p["head.out.w"] + p["head.out.b"]


def ner_forward_one(w, head, input_ids, attention_mask, entity_token_ids):
    """ElectraModelEntityTokenClassification.forward (electra_model.py:
    767-829) for one document: gather hidden states at the marked
    entity-token indices, dense -> gelu -> out_proj."""
    h = encode_one(w, input_ids, attention_mask)
    rows = []
    for idx in entity_token_ids:
        rows.append(h[idx])
    x = np.stack(rows)
    x = x @ head.dense_w + head.dense_b
    x = gelu_exact(x)
    return x @ head.out_w + head.out_b


def alps_forward_one(
    w, head, input_ids, attention_mask, entity_mask, chem_code, dis_code, other_code
):
    """ElectraModelClassificationALPS.forward (electra_model.py:306-411)
    for one example: run-counting mean pooling of the two present codes,
    concat in the reference's branch order, dense -> TANH -> out_proj."""
    h = encode_one(w, input_ids, attention_mask)
    if chem_code == -1:
        other_embedding = pool_run_counting_one(h, entity_mask, other_code)
        disease_embedding = pool_run_counting_one(h, entity_mask, dis_code)
        entity_embedding = np.concatenate([disease_embedding, other_embedding])
    elif dis_code == -1:
        chemical_embedding = pool_run_counting_one(h, entity_mask, chem_code)
        other_embedding = pool_run_counting_one(h, entity_mask, other_code)
        entity_embedding = np.concatenate([chemical_embedding, other_embedding])
    else:
        chemical_embedding = pool_run_counting_one(h, entity_mask, chem_code)
        disease_embedding = pool_run_counting_one(h, entity_mask, dis_code)
        entity_embedding = np.concatenate([chemical_embedding, disease_embedding])
    x = entity_embedding @ head.dense_w + head.dense_b
    x = np.tanh(x)
    return x @ head.out_w + head.out_b
